"""ClickHouse-SQL → Spark-SQL text translation (SURVEY §2.8 as *SQL*,
not just Column helpers).

The reference's product promise is that an app's analytical queries can
target ClickHouse; its golden corpus (``src/corpus/orm_none.txt``,
``orm_drizzleorm.txt``) fixes the CH dialect forms — ``toStartOfMonth``,
``if(empty(category), ...)``, bare ``count()``, ``toFloat64``,
``{name:Type}`` parameter binding. A user switching from the reference
to this engine holds exactly those CH-dialect strings, so the engine
accepts them directly: ``Engine.sql(text, dialect="clickhouse")`` runs
``translate_ch_sql`` and executes the result as Spark SQL.

Design: a small recursive rewriter over the raw SQL text — string
literals and ``--`` comments are opaque, function calls are located by
``identifier (`` and rewritten bottom-up (arguments first), parametric
combinators (``quantile(0.5)(x)``) consume their second argument list.
Function names NOT in the mapping pass through unchanged: Spark shares
most ANSI names (count/sum/avg/lower/concat/coalesce/...), and a
genuinely unsupported name then fails loudly in Spark analysis instead
of being silently mis-translated.

Known semantic deltas (documented, not hidden):
- ``toStartOfWeek`` maps to Spark's Monday-based WEEK truncation (ISO,
  = CH mode 1 / ``toMonday``), not CH's default Sunday mode 0.
- ``uniq*`` map to ``approx_count_distinct`` (HLL on both engines, but
  different sketches → different estimates); ``uniqExact`` is exact on
  both.
- ``quantile`` maps to ``percentile_approx`` (both approximate,
  different algorithms); ``quantileExact`` / ``medianExact`` are exact
  on both.
- ``round`` on FLOAT inputs: CH rounds half to even (banker's), Spark
  half away from zero — they differ only at exact .5 midpoints of
  float values (CH's Decimal rounding already matches Spark).
  ``roundBankers`` translates exactly (``rint``) for callers who need
  CH's float midpoint behavior (r17).
- CH's bare ``length``/``substring``/``reverse`` operate on BYTES for
  String inputs; the Spark twins are CHARACTER-based — identical on
  ASCII, divergent on multi-byte text. The UTF-8 spellings
  (``lengthUTF8``/``substringUTF8``/``reverseUTF8``) map exactly to
  Spark's character semantics; byte-accurate raw-spelling twins would
  need encode/decode round-trips that cannot reproduce CH's invalid-
  UTF-8 outputs, so the raw spellings keep character semantics
  (documented here, r17).
"""

from __future__ import annotations

import re

from dataclasses import dataclass
from typing import Any, Callable

# --------------------------------------------------------------- parsing


def _scan_string(s: str, i: int) -> int:
    """i points at the opening quote; return index AFTER the closing
    quote. Handles both '' doubling (ANSI) and backslash escapes
    (ClickHouse's default string syntax)."""
    q = s[i]
    j = i + 1
    n = len(s)
    while j < n:
        if s[j] == "\\":
            j += 2
            continue
        if s[j] == q:
            if j + 1 < n and s[j + 1] == q:
                j += 2
                continue
            return j + 1
        j += 1
    return n  # unterminated — treat rest as literal


def _parse_args(s: str, i: int) -> tuple[list[str], int]:
    """i points at '('. Return (top-level args, index of closing ')')."""
    assert s[i] == "("
    depth = 0
    args: list[str] = []
    start = i + 1
    j = i
    n = len(s)
    while j < n:
        c = s[j]
        if c in "'\"":
            j = _scan_string(s, j)
            continue
        # CH array literals `[1, 2]` nest like parens — a comma inside
        # them must not split the argument (r09 fix)
        if c in "([":
            depth += 1
        elif c == "]":
            depth -= 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                last = s[start:j].strip()
                if last or args:
                    args.append(last)
                return args, j
        elif c == "," and depth == 1:
            args.append(s[start:j].strip())
            start = j + 1
        j += 1
    raise ValueError(f"unbalanced parentheses in SQL at offset {i}")


# ------------------------------------------------------------- mappings

Rule = Callable[[list[str]], str]


def _rename(new: str) -> Rule:
    return lambda args: f"{new}({', '.join(args)})"


def _cast(sql_type: str) -> Rule:
    return lambda args: f"CAST({args[0]} AS {sql_type})"


def _trunc(unit: str, to_date: bool) -> Rule:
    if to_date:
        return lambda args: f"to_date(date_trunc('{unit}', {args[0]}))"
    return lambda args: f"date_trunc('{unit}', {args[0]})"


def _agg_if(agg: str, zero_fill: bool = False) -> Rule:
    def rule(args: list[str]) -> str:
        *vals, cond = args
        inner = f"{agg}(CASE WHEN {cond} THEN {', '.join(vals)} END)"
        # CH's -If combinators return 0 for sums over no matching rows.
        return f"coalesce({inner}, 0)" if zero_fill else inner

    return rule


def _multi_if(args: list[str]) -> str:
    pairs, else_ = args[:-1], args[-1]
    whens = " ".join(
        f"WHEN {pairs[k]} THEN {pairs[k + 1]}" for k in range(0, len(pairs), 2)
    )
    return f"CASE {whens} ELSE {else_} END"


def _date_diff(args: list[str]) -> str:
    unit = args[0].strip().strip("'\"").upper()
    return f"timestampdiff({unit}, {args[1]}, {args[2]})"


def _add_unit(unit: str, sign: str = "") -> Rule:
    return lambda args: f"timestampadd({unit}, {sign}({args[1]}), {args[0]})"


def _count(args: list[str]) -> str:
    return "count(*)" if not args else f"count({', '.join(args)})"


_NULL_OR_EMPTY: Rule = lambda a: f"(({a[0]}) IS NULL OR ({a[0]}) = '')"


def _ch_backrefs(repl: str) -> str:
    """CH regexp replacements reference groups as ``\\1``; Java (Spark)
    uses ``$1``. Convert inside single-quoted literals; non-literal
    replacement expressions pass through untouched."""
    t = repl.strip()
    if len(t) >= 2 and t[0] == "'" and t[-1] == "'":
        import re as _re

        # a literal '$' in the CH replacement would read as a Java
        # group reference after conversion — escape it first
        # (ADVICE r09: replaceRegexpAll(s, 'x', 'costs $5')). The
        # emitted text is SQL SOURCE: Spark's literal parser consumes
        # one backslash, so '\\$' at source level is what hands Java
        # the escaped '\$'. Escape only a '$' that is UNESCAPED at the
        # parsed level: k source backslashes parse to k//2 literal
        # backslashes ahead of the '$', so the dollar already reads as
        # Java '\$' exactly when k//2 is odd — a blanket replace turned
        # an already-escaped '\\$' into a dangling Java group reference
        # after a literal backslash (ADVICE r10).
        body = _re.sub(
            r"(\\*)\$",
            lambda m: m.group(1)
            + ("\\\\$" if (len(m.group(1)) // 2) % 2 == 0 else "$"),
            t[1:-1],
        )
        # raw source may carry \3 or the doubled \\3 escape form —
        # both mean "group 3" once the literal is parsed
        return "'" + _re.sub(r"\\\\?(\d)", r"$\1", body) + "'"
    return repl


# ------------------------------------------------- JSON family (r09)
# CH's JSONExtract*/JSONHas/JSONLength navigate by literal keys and
# 1-based indexes; they map to get_json_object/json_object_keys/
# json_array_length JsonPath-style. Non-literal path arguments fail
# loudly — a dynamic path can't be folded into a JsonPath literal.
# Documented delta: JSONExtractRaw returns strings UNQUOTED (Spark's
# get_json_object unwraps scalar strings; objects/arrays come back as
# raw JSON on both engines).


def _json_path(args: list[str]) -> str:
    import re

    parts = []
    for a in args[1:]:
        t = a.strip()
        if re.fullmatch(r"\d+", t):
            idx = int(t)
            if idx < 1:
                raise ValueError(
                    "JSON path indexes are 1-based in ClickHouse; "
                    f"got {t}"
                )
            parts.append(f"[{idx - 1}]")
        elif re.fullmatch(r"'\w+'", t):
            parts.append("." + t[1:-1])
        else:
            raise ValueError(
                f"JSON path arguments must be literal keys or 1-based "
                f"indexes: {t!r}"
            )
    return "$" + "".join(parts)


def _json_extract(cast: str | None = None) -> Rule:
    def rule(args: list[str]) -> str:
        g = f"get_json_object({args[0]}, '{_json_path(args)}')"
        return f"CAST({g} AS {cast})" if cast else g

    return rule


def _json_has(args: list[str]) -> str:
    import re

    if len(args) < 2:
        raise ValueError("JSONHas needs a document and at least one key")
    *parents, last = args[1:]
    core = (
        args[0]
        if not parents
        else f"get_json_object({args[0]}, '{_json_path([args[0], *parents])}')"
    )
    t = last.strip()
    if re.fullmatch(r"'\w+'", t):
        return f"coalesce(array_contains(json_object_keys({core}), {t}), false)"
    if re.fullmatch(r"\d+", t):
        return f"coalesce(json_array_length({core}) >= {int(t)}, false)"
    raise ValueError(f"JSONHas: literal key or 1-based index required: {t!r}")


def _json_length(args: list[str]) -> str:
    core = (
        args[0]
        if len(args) == 1
        else f"get_json_object({args[0]}, '{_json_path(args)}')"
    )
    return (
        f"coalesce(json_array_length({core}), "
        f"size(json_object_keys({core})), 0)"
    )


# ---------------------------------------------- date surface (r09)

_FDT_MAP = {
    # CH formatDateTime %-specifier → JDK DateTimeFormatter pattern.
    # %M follows MODERN ClickHouse (month name; %i is minutes).
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "MM", "d": "dd",
    "H": "HH", "I": "hh", "i": "mm", "M": "MMMM", "S": "ss",
    "p": "a", "j": "DDD", "a": "EEE", "W": "EEEE",
    "F": "yyyy-MM-dd", "D": "MM/dd/yy", "T": "HH:mm:ss", "R": "HH:mm",
}


def _format_datetime(args: list[str]) -> str:
    lit = args[1].strip()
    if not (lit.startswith("'") and lit.endswith("'") and len(lit) >= 2):
        raise ValueError("formatDateTime requires a literal format string")
    fmt = lit[1:-1]
    out: list[str] = []
    buf: list[str] = []

    def flush() -> None:
        s = "".join(buf)
        buf.clear()
        if not s:
            return
        if any(ch.isalpha() for ch in s) or "'" in s:
            out.append("'" + s.replace("'", "''") + "'")
        else:
            out.append(s)

    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            spec = fmt[i + 1] if i + 1 < len(fmt) else ""
            if spec == "%":
                buf.append("%")
                i += 2
                continue
            jdk = _FDT_MAP.get(spec)
            if jdk is None:
                raise ValueError(
                    f"formatDateTime: unsupported specifier %{spec}"
                )
            flush()
            out.append(jdk)
            i += 2
        else:
            buf.append(fmt[i])
            i += 1
    flush()
    pattern = "".join(out).replace("'", "''")
    return f"date_format({args[0]}, '{pattern}')"


def _to_start_of_interval(args: list[str]) -> str:
    """CH ``toStartOfInterval(t, INTERVAL n unit)`` → epoch-aligned
    bucket start (CH's own alignment: sub-day units align to the epoch,
    weeks to Monday 1970-01-05, month/quarter/year to 1970-01).

    Timezone contract (ADVICE r09): sub-day buckets go through
    ``unix_timestamp``, so alignment follows the SPARK SESSION timezone
    where CH aligns in the column's timezone — identical in a UTC
    session (the engine default: ``spark.sql.session.timeZone=UTC``),
    divergent for day/hour buckets otherwise. Set the session to the
    column's CH timezone when translating non-UTC workloads."""
    import re

    m = re.fullmatch(r"(?is)\s*INTERVAL\s+(\d+)\s+(\w+)\s*", args[1])
    if not m:
        raise ValueError(
            "toStartOfInterval requires a literal INTERVAL n unit"
        )
    n, unit = int(m.group(1)), m.group(2).lower().rstrip("s")
    if n < 1:
        raise ValueError("toStartOfInterval: interval must be >= 1")
    ts = args[0]
    secs = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
    if unit in secs:
        s = n * secs[unit]
        return (
            f"timestamp_seconds(CAST(floor(unix_timestamp({ts}) / {s}) "
            f"AS BIGINT) * {s})"
        )
    if unit == "week":
        w = 7 * n
        return (
            f"date_add(DATE '1970-01-05', CAST(floor(datediff({ts}, "
            f"DATE '1970-01-05') / {w}) AS INT) * {w})"
        )
    if unit in ("month", "quarter", "year"):
        mm = n * {"month": 1, "quarter": 3, "year": 12}[unit]
        return (
            f"add_months(DATE '1970-01-01', CAST(floor(months_between("
            f"{ts}, DATE '1970-01-01') / {mm}) AS INT) * {mm})"
        )
    raise ValueError(f"toStartOfInterval: unsupported unit {unit!r}")


# --------------------------------------------- dictionaries (r09)
# CH external dictionaries, Spark-first: a DECLARED catalog of
# dimension views (name → (table, key column), mirroring the
# REPLACING_KEYS contract pattern) and dictGet rewritten to a
# correlated scalar subquery — Spark's optimizer turns it into the
# broadcast left-outer join a CH dictionary lookup is. Undeclared
# dictionary names fail loudly.
DICTIONARIES: dict[str, tuple[str, str]] = {
    "nations": ("nation", "n_nationkey"),
    "regions": ("region", "r_regionkey"),
    "parts": ("part", "p_partkey"),
}


def register_dictionary(name: str, table: str, key_col: str) -> None:
    """Declare an external dictionary: ``dictGet('{name}', attr, key)``
    will rewrite to a lookup against ``table`` (a registered view) on
    ``key_col``. The public face of the DICTIONARIES catalog — an app
    migrating off CH declares its dictionaries once at startup, the
    same way the engine's ``REPLACING_KEYS`` declares FINAL contracts."""
    import re

    for v in (name, table, key_col):
        if not re.fullmatch(r"[\w.]+", v):
            raise ValueError(f"invalid dictionary identifier: {v!r}")
    DICTIONARIES[name.lower()] = (table, key_col)


def _dict_get(args: list[str], default: str | None = None) -> str:
    import re

    name, attr = args[0].strip(), args[1].strip()
    for lit in (name, attr):
        if not re.fullmatch(r"'[\w.]+'", lit):
            raise ValueError(
                f"dictGet: dictionary and attribute must be string "
                f"literals: {lit!r}"
            )
    decl = DICTIONARIES.get(name[1:-1].lower())
    if decl is None:
        raise ValueError(
            f"dictGet: dictionary {name} is not declared (DICTIONARIES)"
        )
    tbl, key = decl
    sub = f"(SELECT {attr[1:-1]} FROM {tbl} WHERE {key} = ({args[2]}))"
    return f"coalesce({sub}, {default})" if default is not None else sub

def _regex_group_idx(pattern: str) -> str:
    """CH ``extract``/``extractAll`` take the WHOLE match when the
    regex has no capture group and the FIRST subpattern otherwise;
    Spark's regexp_extract* take the group index explicitly (and
    default to 1 — the r09 gotcha). The pattern must be a string
    literal so the choice is decidable at translate time."""
    p = pattern.strip()
    if not (len(p) >= 2 and p[0] == "'" and p[-1] == "'"):
        raise ValueError(
            "extract/extractAll need a literal regex pattern (the "
            "whole-match vs first-group choice is made at translate time)"
        )
    body, i, has_group = p[1:-1], 0, False
    in_class = False
    while i < len(body):
        c = body[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            # '(' inside a [...] class is a literal, not a group
            in_class = True
            i += 1
            continue
        if c == "(":
            if body.startswith("(?", i):
                # named groups (?<g>.../(?P<g>...) ARE capturing;
                # lookbehinds (?<=/(?<! and every other (?... are not
                if body.startswith("(?P<", i) or (
                    body.startswith("(?<", i)
                    and not body.startswith("(?<=", i)
                    and not body.startswith("(?<!", i)
                ):
                    has_group = True
                    break
            else:
                has_group = True
                break
        i += 1
    return "1" if has_group else "0"


def _ch_transform(a: list[str]) -> str:
    """CH lookup ``transform(x, [from...], [to...][, default])`` → a
    CASE chain (CH returns x itself when unmatched and no default is
    given). The from/to arrays must be literals — a CASE with
    translate-time arms is the only form that stays inside codegen.
    NOT Spark's higher-order ``transform`` (the CH name collides); the
    arity and array-literal shape disambiguate — calls that do NOT
    match the CH lookup shape (2-arg lambda form, or from/to args
    that are not array literals) pass through unchanged to Spark's
    builtin instead of raising (ADVICE r12)."""

    def passthrough() -> str:
        return f"transform({', '.join(a)})"

    if len(a) not in (3, 4):
        return passthrough()

    def is_array_lit(s: str) -> bool:
        s = s.strip()
        return s.startswith("array(") and s.endswith(")")

    if not (is_array_lit(a[1]) and is_array_lit(a[2])):
        return passthrough()

    def elems(s: str, which: str) -> list[str]:
        s = s.strip()
        return _split_depth0(s[len("array("):-1])

    frm, to = elems(a[1], "from"), elems(a[2], "to")
    if len(frm) != len(to) or not frm:
        raise ValueError("transform: from/to need equal non-zero lengths")
    arms = " ".join(
        f"WHEN ({a[0]}) = ({f}) THEN ({t})" for f, t in zip(frm, to)
    )
    default = a[3] if len(a) == 4 else a[0]
    return f"(CASE {arms} ELSE ({default}) END)"


_ARRAY_REDUCE_AGGS = {
    "sum": lambda arr: f"aggregate({arr}, CAST(0 AS DOUBLE), (__ra, __rx) -> __ra + __rx)",
    "min": lambda arr: f"array_min({arr})",
    "max": lambda arr: f"array_max({arr})",
    "avg": lambda arr: (
        f"(aggregate({arr}, CAST(0 AS DOUBLE), (__ra, __rx) -> __ra + __rx)"
        f" / size({arr}))"
    ),
    "count": lambda arr: f"size({arr})",
    "uniq": lambda arr: f"size(array_distinct({arr}))",
    "uniqexact": lambda arr: f"size(array_distinct({arr}))",
    "any": lambda arr: f"element_at({arr}, 1)",
    "anylast": lambda arr: f"element_at({arr}, -1)",
}


def _array_reduce(a: list[str]) -> str:
    """CH ``arrayReduce('agg', arr)`` for the common aggregate names;
    unknown aggregates fail loudly at translate time."""
    name = a[0].strip().strip("'\"").lower()
    rule = _ARRAY_REDUCE_AGGS.get(name)
    if rule is None:
        raise ValueError(
            f"arrayReduce: unsupported aggregate {name!r} (supported: "
            f"{sorted(_ARRAY_REDUCE_AGGS)})"
        )
    if len(a) != 2:
        raise ValueError("arrayReduce takes ('agg', array)")
    return rule(a[1])


FUNCS: dict[str, Rule] = {
    # corpus core (SURVEY §2.8 F1-F7)
    "count": _count,  # bare count() → count(*)
    "tostartofmonth": _trunc("MONTH", to_date=True),
    "tostartofyear": _trunc("YEAR", to_date=True),
    "tostartofquarter": _trunc("QUARTER", to_date=True),
    "tostartofweek": _trunc("WEEK", to_date=True),  # ISO Monday (see module doc)
    "tomonday": _trunc("WEEK", to_date=True),
    "tostartofday": _trunc("DAY", to_date=False),
    "tostartofhour": _trunc("HOUR", to_date=False),
    "tostartofminute": _trunc("MINUTE", to_date=False),
    "empty": _NULL_OR_EMPTY,
    "notempty": lambda a: f"(({a[0]}) IS NOT NULL AND ({a[0]}) <> '')",
    "tofloat64": _cast("DOUBLE"),
    "tofloat32": _cast("FLOAT"),
    "toint64": _cast("BIGINT"),
    "toint32": _cast("INT"),
    "toint16": _cast("SMALLINT"),
    "toint8": _cast("TINYINT"),
    "touint64": _cast("BIGINT"),
    "touint32": _cast("BIGINT"),
    "tostring": _cast("STRING"),
    "todate": _rename("to_date"),
    "todatetime": _rename("to_timestamp"),
    # date parts
    "toyear": _rename("year"),
    "tomonth": _rename("month"),
    "todayofmonth": _rename("day"),
    "tohour": _rename("hour"),
    "tominute": _rename("minute"),
    "tosecond": _rename("second"),
    "todayofweek": lambda a: f"(((dayofweek({a[0]}) + 5) % 7) + 1)",  # CH: Mon=1
    "toyyyymm": lambda a: f"(year({a[0]}) * 100 + month({a[0]}))",
    "now": lambda a: "current_timestamp()",
    "today": lambda a: "current_date()",
    "datediff": _date_diff,
    "adddays": _add_unit("DAY"),
    "addhours": _add_unit("HOUR"),
    "addminutes": _add_unit("MINUTE"),
    "addmonths": _add_unit("MONTH"),
    "addyears": _add_unit("YEAR"),
    "subtractdays": _add_unit("DAY", sign="-"),
    "subtracthours": _add_unit("HOUR", sign="-"),
    "subtractmonths": _add_unit("MONTH", sign="-"),
    "subtractyears": _add_unit("YEAR", sign="-"),
    # aggregate combinators / CH aggregate names
    "countif": _rename("count_if"),
    "sumif": _agg_if("sum", zero_fill=True),
    "avgif": _agg_if("avg"),
    "minif": _agg_if("min"),
    "maxif": _agg_if("max"),
    "uniq": _rename("approx_count_distinct"),
    "uniqcombined": _rename("approx_count_distinct"),
    "uniqhll12": _rename("approx_count_distinct"),
    "uniqexact": lambda a: f"count(DISTINCT {', '.join(a)})",
    # -State/-Merge combinator pair (AggregatingMergeTree lifecycle) —
    # the same Datasketches mapping plans/aggstate.py pins semantics
    # for: states are HLL sketches, merge unions + estimates.
    "uniqstate": _rename("hll_sketch_agg"),
    "uniqmerge": lambda a: f"hll_sketch_estimate(hll_union_agg({a[0]}))",
    # algebraic -State/-Merge pairs (AggregatingMergeTree lifecycle,
    # r12b): where uniqState needs a sketch, these states are plain
    # algebraic summaries — sum/min/max merge with themselves, count
    # merges by sum, avg carries (sum, count)
    "sumstate": _rename("sum"),
    "summerge": _rename("sum"),
    "countstate": lambda a: f"count({a[0] if a else '*'})",
    "countmerge": _rename("sum"),
    "minstate": _rename("min"),
    "minmerge": _rename("min"),
    "maxstate": _rename("max"),
    "maxmerge": _rename("max"),
    "avgstate": lambda a: (
        f"named_struct('s', sum({a[0]}), 'c', count({a[0]}))"
    ),
    # CH avg finalizes to Float64 regardless of the input type
    "avgmerge": lambda a: (
        f"(CAST(sum(({a[0]}).s) AS DOUBLE) / sum(({a[0]}).c))"
    ),
    # remaining -If combinators over the mapped aggregate names
    "uniqif": lambda a: (
        f"approx_count_distinct(CASE WHEN {a[1]} THEN {a[0]} END)"
    ),
    "uniqexactif": lambda a: (
        f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)"
    ),
    "anyif": lambda a: f"first(CASE WHEN {a[1]} THEN {a[0]} END, true)",
    "anylastif": lambda a: f"last(CASE WHEN {a[1]} THEN {a[0]} END, true)",
    "medianif": lambda a: (
        f"percentile_approx(CASE WHEN {a[1]} THEN {a[0]} END, 0.5)"
    ),
    "argmaxif": lambda a: (
        f"max_by(CASE WHEN {a[2]} THEN {a[0]} END, "
        f"CASE WHEN {a[2]} THEN {a[1]} END)"
    ),
    "argminif": lambda a: (
        f"min_by(CASE WHEN {a[2]} THEN {a[0]} END, "
        f"CASE WHEN {a[2]} THEN {a[1]} END)"
    ),
    "argmax": _rename("max_by"),
    "argmin": _rename("min_by"),
    # CH aggregate any(x) → first(x); but `> ANY (SELECT ...)` is a
    # subquery predicate, not the aggregate — leave those untouched.
    "any": lambda a: (
        f"any({', '.join(a)})"
        if a and a[0].lstrip().lower().startswith("select")
        else f"first({', '.join(a)})"
    ),
    "anylast": _rename("last"),
    "grouparray": _rename("collect_list"),
    "groupuniqarray": _rename("collect_set"),
    "median": lambda a: f"percentile_approx({a[0]}, 0.5)",
    "medianexact": lambda a: f"percentile({a[0]}, 0.5)",
    # conditionals / arithmetic
    "multiif": _multi_if,
    "intdiv": lambda a: f"(({a[0]}) DIV ({a[1]}))",
    "modulo": lambda a: f"(({a[0]}) % ({a[1]}))",
    "plus": lambda a: f"(({a[0]}) + ({a[1]}))",
    "minus": lambda a: f"(({a[0]}) - ({a[1]}))",
    "multiply": lambda a: f"(({a[0]}) * ({a[1]}))",
    "divide": lambda a: f"(({a[0]}) / ({a[1]}))",
    # strings / arrays
    "replaceall": _rename("replace"),
    # CH: position(haystack, needle); the 1-arg ANSI form
    # position(needle IN haystack) passes through (Spark parses it).
    "position": lambda a: (
        f"locate({a[1]}, {a[0]})" if len(a) >= 2 else f"position({a[0]})"
    ),
    "lengthutf8": _rename("length"),
    "has": _rename("array_contains"),
    "arrayelement": _rename("element_at"),
    "arrayjoin": _rename("explode"),
    "arrayfilter": lambda a: f"filter({a[1]}, {a[0]})",  # CH: (lambda, arr)
    "arraymap": lambda a: f"transform({a[1]}, {a[0]})",
    "arraydistinct": _rename("array_distinct"),
    "arraysort": _rename("array_sort"),
    "arrayconcat": _rename("concat"),
    # CH: (sep, s) with a LITERAL separator; Spark split() takes a
    # regex, so quote it with \Q...\E ('\\Q' in Spark SQL source is the
    # two chars \Q) — '.' or '|' separators would otherwise mis-split.
    "splitbychar": lambda a: f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))",
    "splitbystring": lambda a: f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))",
    "arraystringconcat": lambda a: f"array_join({a[0]}, {a[1] if len(a) > 1 else chr(39) * 2})",
    # JSON family (r09) — see the helper block above for path rules
    "jsonextractstring": _json_extract(),
    "jsonextractraw": _json_extract(),
    "jsonextractint": _json_extract("BIGINT"),
    "jsonextractuint": _json_extract("BIGINT"),
    "jsonextractfloat": _json_extract("DOUBLE"),
    "jsonextractbool": _json_extract("BOOLEAN"),
    "jsonhas": _json_has,
    "jsonlength": _json_length,
    # visitParam* / simpleJSON* are the legacy top-level-only variants —
    # same mapping (our paths are literal anyway)
    "visitparamextractstring": _json_extract(),
    "visitparamextractint": _json_extract("BIGINT"),
    "visitparamextractfloat": _json_extract("DOUBLE"),
    "visitparamextractbool": _json_extract("BOOLEAN"),
    "visitparamhas": _json_has,
    "simplejsonextractstring": _json_extract(),
    "simplejsonextractint": _json_extract("BIGINT"),
    "simplejsonextractfloat": _json_extract("DOUBLE"),
    "simplejsonextractbool": _json_extract("BOOLEAN"),
    "simplejsonhas": _json_has,
    # date surface (r09)
    "formatdatetime": _format_datetime,
    "tostartofinterval": _to_start_of_interval,
    "todatetime64": lambda a: f"CAST({a[0]} AS TIMESTAMP)",
    "toyyyymmdd": lambda a: (
        f"(year({a[0]}) * 10000 + month({a[0]}) * 100 + day({a[0]}))"
    ),
    # external dictionaries (r09)
    "dictget": _dict_get,
    "dictgetordefault": lambda a: _dict_get(a[:3], default=a[3]),
    # r09 breadth batch — the remaining high-frequency CH names.
    # Array higher-order functions take (lambda, arr) in CH; Spark's
    # take (arr, lambda).
    "indexof": _rename("array_position"),  # both 1-based, 0 if absent
    "arraycount": lambda a: f"size(filter({a[1]}, {a[0]}))",
    "arrayexists": lambda a: f"exists({a[1]}, {a[0]})",
    "arrayall": lambda a: f"forall({a[1]}, {a[0]})",
    "arraysum": lambda a: (
        f"aggregate({a[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    ),
    "arrayavg": lambda a: (
        f"(aggregate({a[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        f" / size({a[0]}))"
    ),
    "arraymin": _rename("array_min"),
    "arraymax": _rename("array_max"),
    "arrayreverse": _rename("reverse"),
    "arrayuniq": lambda a: f"size(array_distinct({a[0]}))",
    "arrayflatten": _rename("flatten"),
    "arrayzip": _rename("arrays_zip"),
    "arrayslice": lambda a: (
        f"slice({a[0]}, {a[1]}, {a[2]})"
        if len(a) > 2
        else f"slice({a[0]}, {a[1]}, greatest(0, size({a[0]}) - ({a[1]}) + 1))"
    ),
    "countequal": lambda a: f"size(filter({a[0]}, __ce -> __ce = ({a[1]})))",
    # strings
    "substringutf8": _rename("substr"),
    "lowerutf8": _rename("lower"),
    "upperutf8": _rename("upper"),
    "trimleft": _rename("ltrim"),
    "trimright": _rename("rtrim"),
    "trimboth": _rename("trim"),
    "leftpad": _rename("lpad"),
    "rightpad": _rename("rpad"),
    "match": lambda a: f"(({a[0]}) RLIKE ({a[1]}))",
    "concatassumeinjective": _rename("concat"),
    "assumenotnull": lambda a: a[0],
    # regex extraction (whole-match vs first-group decided at
    # translate time from the literal pattern, exactly as CH does).
    # The ANSI/CH `EXTRACT(unit FROM ts)` form parses as ONE arg —
    # pass it through unchanged (Spark has the same builtin) instead
    # of indexing a[1] (ADVICE r12).
    "extract": lambda a: (
        f"extract({', '.join(a)})"
        if len(a) != 2
        else f"regexp_extract({a[0]}, {a[1]}, {_regex_group_idx(a[1])})"
    ),
    "extractall": lambda a: (
        f"regexp_extract_all({a[0]}, {a[1]}, {_regex_group_idx(a[1])})"
    ),
    "countmatches": _rename("regexp_count"),
    # base64 (CH returns String; Spark unbase64 returns BINARY)
    "base64encode": _rename("base64"),
    "base64decode": lambda a: f"CAST(unbase64({a[0]}) AS STRING)",
    "trybase64decode": lambda a: (
        f"CAST(try_to_binary({a[0]}, 'base64') AS STRING)"
    ),
    # decimal casts (CH width -> Spark precision; scale is literal)
    "todecimal32": lambda a: f"CAST({a[0]} AS DECIMAL(9, {int(a[1])}))",
    "todecimal64": lambda a: f"CAST({a[0]} AS DECIMAL(18, {int(a[1])}))",
    "todecimal128": lambda a: f"CAST({a[0]} AS DECIMAL(38, {int(a[1])}))",
    # Map-type accessors
    "mapkeys": _rename("map_keys"),
    "mapvalues": _rename("map_values"),
    "mapcontains": _rename("map_contains_key"),
    "mapfromarrays": _rename("map_from_arrays"),
    # lookup transform / arrayReduce (translate-time expansions)
    "transform": _ch_transform,
    "arrayreduce": _array_reduce,
    # sumCount(x) -> (sum, count) tuple; struct mirrors CH's tuple
    "sumcount": lambda a: (
        f"named_struct('sum', sum({a[0]}), 'count', count({a[0]}))"
    ),
    # time
    "tounixtimestamp": _rename("unix_timestamp"),
    "fromunixtimestamp": _rename("timestamp_seconds"),
    "dateadd": lambda a: (
        f"timestampadd({a[0].strip().strip(chr(39)).upper()}, {a[1]}, {a[2]})"
    ),
    "datesub": lambda a: (
        f"timestampadd({a[0].strip().strip(chr(39)).upper()}, -({a[1]}), {a[2]})"
    ),
    # bit ops
    "bitand": lambda a: f"(({a[0]}) & ({a[1]}))",
    "bitor": lambda a: f"(({a[0]}) | ({a[1]}))",
    "bitxor": lambda a: f"(({a[0]}) ^ ({a[1]}))",
    "bitnot": lambda a: f"(~({a[0]}))",
    "bitshiftleft": _rename("shiftleft"),
    "bitshiftright": _rename("shiftright"),
    "bitcount": _rename("bit_count"),
    # --- r09 second breadth batch -----------------------------------
    # URL family (CH SQL reference "URL functions") → Spark parse_url.
    # CH returns '' for absent parts where parse_url yields NULL — the
    # coalesce mirrors CH.
    "protocol": lambda a: f"coalesce(parse_url({a[0]}, 'PROTOCOL'), '')",
    "domain": lambda a: f"coalesce(parse_url({a[0]}, 'HOST'), '')",
    # CH's "first significant subdomain" rule (r10): the label before
    # the TLD, except when that label is one of {com, net, org, co}
    # (composite TLDs like .com.tr), where one more label is kept.
    # cutToFirstSignificantSubdomain('https://news.clickhouse.com.tr/')
    # = 'clickhouse.com.tr'. CH consults the full public-suffix list;
    # this maps the rule CH documents for its default (short) list.
    "cuttofirstsignificantsubdomain": lambda a: (
        f"(CASE WHEN parse_url({a[0]}, 'HOST') IS NULL THEN '' ELSE "
        f"concat_ws('.', slice(split(parse_url({a[0]}, 'HOST'), '\\\\.'), "
        f"greatest(1, size(split(parse_url({a[0]}, 'HOST'), '\\\\.')) - "
        f"(CASE WHEN size(split(parse_url({a[0]}, 'HOST'), '\\\\.')) >= 3 "
        f"AND element_at(split(parse_url({a[0]}, 'HOST'), '\\\\.'), "
        f"size(split(parse_url({a[0]}, 'HOST'), '\\\\.')) - 1) "
        f"IN ('com', 'net', 'org', 'co') THEN 2 ELSE 1 END)), 1000)) END)"
    ),
    "firstsignificantsubdomain": lambda a: (
        f"(CASE WHEN parse_url({a[0]}, 'HOST') IS NULL THEN '' ELSE "
        f"element_at(split(parse_url({a[0]}, 'HOST'), '\\\\.'), "
        f"greatest(1, size(split(parse_url({a[0]}, 'HOST'), '\\\\.')) - "
        f"(CASE WHEN size(split(parse_url({a[0]}, 'HOST'), '\\\\.')) >= 3 "
        f"AND element_at(split(parse_url({a[0]}, 'HOST'), '\\\\.'), "
        f"size(split(parse_url({a[0]}, 'HOST'), '\\\\.')) - 1) "
        f"IN ('com', 'net', 'org', 'co') THEN 2 ELSE 1 END))) END)"
    ),
    "domainwithoutwww": lambda a: (
        f"regexp_replace(coalesce(parse_url({a[0]}, 'HOST'), ''),"
        " '^www\\\\.', '')"
    ),
    "topleveldomain": lambda a: (
        f"regexp_extract(coalesce(parse_url({a[0]}, 'HOST'), ''),"
        " '\\\\.([^.]+)$', 1)"
    ),
    "path": lambda a: f"coalesce(parse_url({a[0]}, 'PATH'), '')",
    # CH pathFull = path + query-string; Spark FILE = same
    "pathfull": lambda a: f"coalesce(parse_url({a[0]}, 'FILE'), '')",
    "querystring": lambda a: f"coalesce(parse_url({a[0]}, 'QUERY'), '')",
    "fragment": lambda a: f"coalesce(parse_url({a[0]}, 'REF'), '')",
    "extracturlparameter": lambda a: (
        f"coalesce(parse_url({a[0]}, 'QUERY', {a[1]}), '')"
    ),
    "cutquerystring": lambda a: f"regexp_replace({a[0]}, '\\\\?.*$', '')",
    "cutfragment": lambda a: f"regexp_replace({a[0]}, '#.*$', '')",
    "cutquerystringandfragment": lambda a: (
        f"regexp_replace({a[0]}, '[?#].*$', '')"
    ),
    # url_encode form-encodes spaces as '+'; CH emits %20. url_decode
    # folds '+' to space; CH keeps literal '+'. The replaces align both.
    # Two more RFC-3986-vs-form-encoding deltas (ADVICE r09): Java
    # encodes '~' as %7E (CH keeps it) and keeps '*' (CH encodes %2A).
    "encodeurlcomponent": lambda a: (
        f"replace(replace(replace(url_encode({a[0]}), "
        f"'+', '%20'), '%7E', '~'), '*', '%2A')"
    ),
    "decodeurlcomponent": lambda a: (
        f"url_decode(replace({a[0]}, '+', '%2B'))"
    ),
    # statistical aggregates (value-exact renames)
    "stddevpop": _rename("stddev_pop"),
    "stddevsamp": _rename("stddev_samp"),
    "varpop": _rename("var_pop"),
    "varsamp": _rename("var_samp"),
    "covarpop": _rename("covar_pop"),
    "covarsamp": _rename("covar_samp"),
    # corr: Spark's Corr divides by sqrt(m2x*m2y) in its final
    # evaluateExpression, which under ANSI mode (Spark 4 default)
    # throws DIVIDE_BY_ZERO for any zero-variance group with n>=2
    # (judge-confirmed at sf1: a 10-row single-value bucket crashed
    # ch_dialect_fill_corr). CH and DuckDB both return NULL there.
    # The form below exposes Corr's three raw co-moments so the one
    # divide happens in try_divide: zero variance -> NULL, n=1 -> 0/0
    # -> NULL, n=0 -> NULL. Matches CH/DuckDB NULL semantics exactly.
    # All three come from regr_sxy, which extends Covariance: its
    # update and merge are the ones Corr uses for ck. regr_sxx/regr_syy
    # are NOT Corr's accumulators — they run CentralMomentAgg's
    # m2 += d*(d - d/n) where Corr runs xMk += dx*(x - newXAvg), and
    # the two round differently (1 ulp off at some partition counts).
    # Covariance of a column with itself reduces term by term to Corr's
    # xMk/yMk update and merge; nvl2 masks the other side's NULL rows
    # so it skips exactly the rows Corr skips. Bit-exact vs Corr at any
    # partition count (pinned in tests/test_chsql.py).
    "corr": lambda a: (
        f"try_divide(regr_sxy({a[0]}, {a[1]}), "
        f"sqrt(regr_sxy({a[0]}, nvl2({a[1]}, {a[0]}, NULL)) * "
        f"regr_sxy(nvl2({a[0]}, {a[1]}, NULL), {a[1]})))"
    ),
    "retention": lambda a: _retention(a),
    # anyHeavy returns a heavy hitter (CH's approximate majority
    # element); Spark's exact `mode` satisfies the same contract
    # (deterministic here, where CH's is sampling-dependent)
    "anyheavy": _rename("mode"),
    "avgweighted": lambda a: f"(sum(({a[0]}) * ({a[1]})) / sum({a[1]}))",
    "groupbitand": _rename("bit_and"),
    "groupbitor": _rename("bit_or"),
    "groupbitxor": _rename("bit_xor"),
    # array breadth. arrayFirst/arrayLast yield NULL on no-match where
    # CH yields the element type's default (0, '') — NULL is the honest
    # Spark-typed answer and is what group_by_use_nulls-era CH moves
    # toward; documented deviation.
    "arrayfirst": lambda a: f"try_element_at(filter({a[1]}, {a[0]}), 1)",
    "arraylast": lambda a: f"try_element_at(filter({a[1]}, {a[0]}), -1)",
    "arrayfirstindex": lambda a: (
        f"array_position(transform({a[1]}, {a[0]}), true)"
    ),
    "arraylastindex": lambda a: (
        f"(CASE WHEN array_position(reverse(transform({a[1]}, {a[0]})), true)"
        f" = 0 THEN 0 ELSE size({a[1]}) + 1 -"
        f" array_position(reverse(transform({a[1]}, {a[0]})), true) END)"
    ),
    # cumulative / pairwise forms keep the element type via x - x zeros
    # LINEAR running-sum fold (r10): the old per-index slice+aggregate
    # re-evaluated an O(n) prefix sum for every element — O(n²) per row
    # with the full source expression recomputed inside each slice
    # (ch_dialect_token_arrays read 24 s at sf0.1 from this alone).
    # array_append copies are O(n²) memcpy of scalars — negligible next
    # to expression re-evaluation. `x - x` keeps the zero generic over
    # the element's numeric type. DECIMAL-typed arrays fail loudly at
    # analysis (addition widens decimal precision so no fixed
    # accumulator type exists) — CH itself types fractional array
    # literals as Float64, so cast to toFloat64 first, as CH would.
    "arraycumsum": lambda a: (
        f"aggregate({a[0]}, slice({a[0]}, 1, 0), (acc, x) -> "
        f"array_append(acc, x + IF(size(acc) = 0, x - x, "
        f"element_at(acc, size(acc)))))"
    ),
    # LINEAR fold (r10, same hazard as arrayCumSum): the indexed
    # transform re-evaluated the SOURCE expression inside the lambda
    # per element — O(n²) when the array is derived (tokens/arrayMap
    # chains). The previous raw element rides in a 1-element array so
    # the accumulator stays type-stable with no NULL-typing problem.
    "arraydifference": lambda a: (
        f"aggregate({a[0]}, "
        f"named_struct('o', slice(transform({a[0]}, __ad -> __ad - __ad), 1, 0), "
        f"'p', slice({a[0]}, 1, 0)), "
        f"(acc, x) -> named_struct("
        f"'o', array_append(acc.o, IF(size(acc.p) = 0, x - x, "
        f"x - element_at(acc.p, 1))), "
        f"'p', array(x)), "
        f"acc -> acc.o)"
    ),
    "arrayintersect": _rename("array_intersect"),
    "hasall": lambda a: f"forall({a[1]}, __ha -> array_contains({a[0]}, __ha))",
    "hasany": _rename("arrays_overlap"),
    # LINEAR fold (r10): consecutive-dedup keeping the first of each
    # run — appends only when the last kept element differs (<=> keeps
    # CH's NULL-run collapsing). Single source reference, no per-element
    # re-evaluation of a derived array.
    "arraycompact": lambda a: (
        f"aggregate({a[0]}, slice({a[0]}, 1, 0), "
        f"(acc, x) -> IF(size(acc) > 0 AND "
        f"element_at(acc, size(acc)) <=> x, acc, array_append(acc, x)))"
    ),
    "arraypushback": lambda a: f"concat({a[0]}, array({a[1]}))",
    "arraypushfront": lambda a: f"concat(array({a[1]}), {a[0]})",
    "arraypopback": lambda a: (
        f"slice({a[0]}, 1, greatest(0, size({a[0]}) - 1))"
    ),
    "arraypopfront": lambda a: (
        f"slice({a[0]}, 2, greatest(0, size({a[0]}) - 1))"
    ),
    "arrayenumerate": lambda a: (
        f"(CASE WHEN size({a[0]}) = 0 THEN array()"
        f" ELSE sequence(1, size({a[0]})) END)"
    ),
    # CH range is end-EXCLUSIVE and empty-safe; Spark sequence is
    # inclusive and runs BACKWARD when stop < start — guard both.
    "range": lambda a: (
        f"(CASE WHEN ({a[0]}) <= 0 THEN array()"
        f" ELSE sequence(0, ({a[0]}) - 1) END)"
        if len(a) == 1
        else f"(CASE WHEN ({a[1]}) <= ({a[0]}) THEN array()"
        f" ELSE sequence({a[0]}, ({a[1]}) - 1"
        f"{', ' + a[2] if len(a) > 2 else ''}) END)"
    ),
    # string breadth
    "startswith": _rename("startswith"),
    "endswith": _rename("endswith"),
    "reverseutf8": _rename("reverse"),
    "mid": _rename("substr"),
    "substringindex": _rename("substring_index"),
    "positioncaseinsensitive": lambda a: (
        f"locate(lower({a[1]}), lower({a[0]}))"
    ),
    "countsubstrings": lambda a: (
        f"(size(split({a[0]}, concat('\\\\Q', {a[1]}, '\\\\E'))) - 1)"
    ),
    "multisearchany": lambda a: (
        f"exists({a[1]}, __ms -> contains({a[0]}, __ms))"
    ),
    "concatwithseparator": _rename("concat_ws"),
    "tokens": lambda a: (
        f"filter(split({a[0]}, '[^a-zA-Z0-9]+'), __tk -> __tk <> '')"
    ),
    # CH regexp replacements use \1 backrefs, Spark (Java) uses $1 —
    # convert inside literal replacement strings
    "replaceregexpall": lambda a: (
        f"regexp_replace({a[0]}, {a[1]}, {_ch_backrefs(a[2])})"
    ),
    "replaceone": lambda a: (
        f"(CASE WHEN locate({a[1]}, {a[0]}) = 0 THEN {a[0]} ELSE "
        f"concat(substr({a[0]}, 1, locate({a[1]}, {a[0]}) - 1), {a[2]}, "
        f"substr({a[0]}, locate({a[1]}, {a[0]}) + length({a[1]}))) END)"
    ),
    # binary hash functions: CH returns FixedString bytes (users wrap in
    # hex()); Spark's md5/sha2 return lowercase hex STRINGS — unhex
    # restores the byte contract so hex(MD5(x)) round-trips uppercase
    # exactly like CH.
    "md5": lambda a: f"unhex(md5({a[0]}))",
    "sha256": lambda a: f"unhex(sha2({a[0]}, 256))",
    # math breadth
    "roundbankers": _rename("bround"),
    "intdivorzero": lambda a: (
        f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) DIV ({a[1]}) END)"
    ),
    "moduloorzero": lambda a: (
        f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) % ({a[1]}) END)"
    ),
    "exp2": lambda a: f"power(2, {a[0]})",
    "exp10": lambda a: f"power(10, {a[0]})",
    "isnan": _rename("isnan"),
    "isfinite": lambda a: (
        f"(NOT isnan({a[0]}) AND abs({a[0]}) <> double('Infinity'))"
    ),
    "isinfinite": lambda a: f"(abs({a[0]}) = double('Infinity'))",
    # date breadth
    "toquarter": _rename("quarter"),
    "todayofyear": _rename("dayofyear"),
    "toisoweek": _rename("weekofyear"),
    "tolastdayofmonth": _rename("last_day"),
    "todate32": _rename("to_date"),
    "addweeks": _add_unit("WEEK"),
    "subtractweeks": _add_unit("WEEK", sign="-"),
    "addseconds": _add_unit("SECOND"),
    "subtractseconds": _add_unit("SECOND", sign="-"),
    "addquarters": _add_unit("QUARTER"),
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    "tostartoffiveminutes": lambda a: (
        f"timestamp_seconds(300 * (unix_timestamp({a[0]}) DIV 300))"
    ),
    "tostartoftenminutes": lambda a: (
        f"timestamp_seconds(600 * (unix_timestamp({a[0]}) DIV 600))"
    ),
    "tostartoffifteenminutes": lambda a: (
        f"timestamp_seconds(900 * (unix_timestamp({a[0]}) DIV 900))"
    ),
    # window helpers: CH's frame-bounded lag/lead — positional lag/lead
    # under the query's own OVER clause (passed through verbatim)
    "laginframe": _rename("lag"),
    "leadinframe": _rename("lead"),
    # Map-aggregate family: CH sumMap/minMap/maxMap((keys, values) or a
    # Map column) → sorted-key struct('keys','values'). Pure aggregate
    # expression — Spark allows collect_list inside the higher-order
    # lambdas (the analyzer extracts aggregates first) and dedupes the
    # repeated identical collect_list. Type-preserving zero via v - v.
    "summap": lambda a: _map_agg(a, "sum"),
    "minmap": lambda a: _map_agg(a, "min"),
    "maxmap": lambda a: _map_agg(a, "max"),
}


def _map_agg(a: list[str], mode: str) -> str:
    if len(a) == 1:
        ka, va = f"map_keys({a[0]})", f"map_values({a[0]})"
    else:
        ka, va = a[0], a[1]
    # NOTE: sum accumulates in the VALUE type (ints stay ints, like
    # CH); DECIMAL values are unsupported (decimal + widens precision,
    # breaking aggregate()'s fixed accumulator type) — cast to Float64
    # first.
    pairs = (
        f"flatten(collect_list(zip_with({ka}, {va}, "
        f"(__mk, __mv) -> struct(__mk AS k, __mv AS v))))"
    )
    keys = f"array_sort(array_distinct(transform({pairs}, __p -> __p.k)))"
    per_key = f"transform(filter({pairs}, __p -> __p.k = __sk), __p -> __p.v)"
    if mode == "sum":
        vals = (
            f"transform({keys}, __sk -> aggregate({per_key}, "
            f"element_at({per_key}, 1) - element_at({per_key}, 1), "
            f"(__acc, __pv) -> __acc + __pv))"
        )
    elif mode == "min":
        vals = f"transform({keys}, __sk -> array_min({per_key}))"
    else:
        vals = f"transform({keys}, __sk -> array_max({per_key}))"
    return f"named_struct('keys', {keys}, 'values', {vals})"

# name(q...)(x...) combinators: rule receives (param_args, value_args)
PARAMETRIC: dict[str, Callable[[list[str], list[str]], str]] = {
    "quantile": lambda p, v: f"percentile_approx({v[0]}, {p[0]})",
    "quantileexact": lambda p, v: f"percentile({v[0]}, {p[0]})",
    "quantiles": lambda p, v: f"percentile_approx({v[0]}, array({', '.join(p)}))",
    "quantilesexact": lambda p, v: f"percentile({v[0]}, array({', '.join(p)}))",
    # sketch-backed CH variants — all map to Spark's t-digest-style
    # approx percentile (same accuracy contract: mergeable sketch,
    # rank-error bounded)
    "quantiletdigest": lambda p, v: f"percentile_approx({v[0]}, {p[0]})",
    "quantilestdigest": lambda p, v: (
        f"percentile_approx({v[0]}, array({', '.join(p)}))"
    ),
    "quantiletiming": lambda p, v: f"percentile_approx({v[0]}, {p[0]})",
    "quantilebfloat16": lambda p, v: f"percentile_approx({v[0]}, {p[0]})",
    # deterministic variant: the determinator arg (v[1]) only steadies
    # CH's reservoir sampling — irrelevant to a mergeable sketch
    "quantiledeterministic": lambda p, v: (
        f"percentile_approx({v[0]}, {p[0]})"
    ),
    # uniqUpTo(N)(x): exact distinct count while <= N, else N+1 —
    # CH's cheap "more than N distinct?" probe; least() preserves the
    # saturation contract exactly
    "uniqupto": lambda p, v: (
        f"least(count(DISTINCT {', '.join(v)}), CAST({p[0]} AS BIGINT) + 1)"
    ),
    "windowfunnel": lambda p, v: _window_funnel(p, v),
    "sequencematch": lambda p, v: _sequence_match(p, v),
    "sequencecount": lambda p, v: _sequence_count(p, v),
}


# --------------------- CH behavioral-analytics aggregates (r10,
# VERDICT r09 missing #2). All three rewrite structurally onto codegen
# built-ins (collect_list + array_sort + aggregate fold) — the
# per-group event stream never leaves the JVM, and the fold state is
# O(levels), so a group of any size folds in one pass.


def _retention(a: list[str]) -> str:
    """CH ``retention(cond1, ..., condN)`` → array of 0/1 flags:
    element 1 = cond1 held on some event; element i = cond1 AND condi
    both held (CH's documented semantics — no time ordering). Pure
    boolean aggregates, no event materialization at all."""
    if len(a) < 2:
        raise ValueError("retention needs at least 2 conditions")
    first = f"max({a[0]})"
    elems = [f"CAST(coalesce({first}, false) AS INT)"] + [
        f"CAST(coalesce({first} AND max({c}), false) AS INT)" for c in a[1:]
    ]
    return f"array({', '.join(elems)})"


_FUNNEL_MODES = frozenset(
    {"strict_order", "strict_deduplication", "strict_dedup",
     "strict_increase"}
)


def _window_funnel(p: list[str], v: list[str]) -> str:
    """CH ``windowFunnel(window[, mode...])(ts, cond1, ..., condN)`` →
    max funnel level reached by a chain ``t1 <= ... <= tk`` with every
    condi in order and ``tk - t1 <= window`` (seconds).

    Structure mirrors ClickHouse's published single-pass algorithm
    (AggregateFunctions/AggregateFunctionWindowFunnel.h): every row
    explodes into one ``(t, i)`` ENTRY per matched condition (so a row
    matching cond1 AND cond2 can serve both chain steps, and tied
    timestamps chain ``t1 <= t2`` exactly as CH's pair sort orders
    them — fixing the r10 struct-sort tie divergence vs the ``>=``
    oracles), entries sort by ``(t, i)``, and a fold keeps per level
    the chain's (start, last-event) times, overwriting on each
    feasible transition — overwrites are monotone in the start time,
    so the single kept chain dominates.

    Modes (combinable, as in CH):
    - ``strict_increase``: a transition additionally requires the
      previous level's last event time STRICTLY below the entry's.
    - ``strict_dedup`` (= ``strict_deduplication``): an entry for a
      level ≥ 2 that is ALREADY reached freezes processing and returns
      that level.
    - ``strict_order``: rows matching NO condition become interrupter
      entries — once a cond1 event has been seen, an interrupter ends
      processing, and a level-k entry whose level k-1 is not yet
      reached ends processing with the current level.
    """
    modes: set[str] = set()
    for m in p[1:]:
        mode = m.strip().strip("'\"").lower()
        if mode not in _FUNNEL_MODES:
            raise ValueError(
                f"windowFunnel: unknown mode {mode!r} (supported: "
                "strict_order, strict_dedup, strict_increase)"
            )
        modes.add("strict_dedup" if mode == "strict_deduplication" else mode)
    if len(p) < 1:
        raise ValueError("windowFunnel needs a window argument")
    if len(v) < 2:
        raise ValueError("windowFunnel needs (timestamp, cond1, ...)")
    w_us = f"(CAST({p[0]} AS BIGINT) * 1000000)"
    ts, conds = v[0], v[1:]
    n = len(conds)
    strict_order = "strict_order" in modes
    strict_dedup = "strict_dedup" in modes
    strict_increase = "strict_increase" in modes

    fields = ", ".join(
        [f"unix_micros(CAST({ts} AS TIMESTAMP)) AS t"]
        + [f"({c}) AS m{i + 1}" for i, c in enumerate(conds)]
    )
    # one (t, i) entry per matched condition; interrupter (t, 0)
    # entries only exist under strict_order, exactly as CH stores them
    entry_elems = [
        f"IF(r.m{i}, named_struct('t', r.t, 'i', {i}), NULL)"
        for i in range(1, n + 1)
    ]
    if strict_order:
        none = " OR ".join(f"r.m{i}" for i in range(1, n + 1))
        entry_elems.append(
            f"IF(NOT ({none}), named_struct('t', r.t, 'i', 0), NULL)"
        )
    # r18 (guide §2.3 aggregate less): rows matching NO condition
    # produce zero (t, i) entries, so collecting them only inflates the
    # per-group array the interpreted fold walks — skip them at the
    # partial-aggregation side via collect_list's NULL-skip. Under
    # strict_order those rows ARE the interrupter entries and must be
    # kept. NULL conds behave exactly as before: a NULL guard drops the
    # row here, and a NULL m{i} produced no entry in the old form.
    row_struct = f"struct({fields})"
    if not strict_order:
        anym = " OR ".join(f"({c})" for c in conds)
        row_struct = f"CASE WHEN {anym} THEN {row_struct} END"
    entries = (
        f"array_sort(flatten(transform(collect_list({row_struct}), "
        f"r -> filter(array({', '.join(entry_elems)}), e -> e IS NOT NULL))))"
    )

    need_r = strict_order or strict_dedup
    prefix = "size(filter(acc.f, a -> a >= 0))"
    # early-return triggers, evaluated against the PRE-entry state
    hit_break = f"(x.i = 0 AND acc.fe)" if strict_order else "false"
    hit_dedup = (
        "(x.i >= 2 AND element_at(acc.f, x.i) >= 0)"
        if strict_dedup
        else "false"
    )
    hit_order = (
        "(x.i >= 2 AND acc.fe AND element_at(acc.f, x.i - 1) < 0)"
        if strict_order
        else "false"
    )
    frozen = f"(acc.r >= 0 OR {hit_break} OR {hit_dedup} OR {hit_order})" \
        if need_r else "false"

    def chain_ok(k: int) -> str:
        c = (
            f"x.i = {k} AND element_at(acc.f, {k - 1}) >= 0 "
            f"AND x.t - element_at(acc.f, {k - 1}) <= {w_us}"
        )
        if strict_increase:
            c += f" AND element_at(acc.l, {k - 1}) < x.t"
        return c

    f_elems, l_elems = [], []
    for k in range(1, n + 1):
        if k == 1:
            new_f = "IF(x.i = 1, x.t, element_at(acc.f, 1))"
            new_l = "IF(x.i = 1, x.t, element_at(acc.l, 1))"
        else:
            new_f = (
                f"IF({chain_ok(k)}, element_at(acc.f, {k - 1}), "
                f"element_at(acc.f, {k}))"
            )
            new_l = f"IF({chain_ok(k)}, x.t, element_at(acc.l, {k}))"
        if need_r:
            new_f = f"IF({frozen}, element_at(acc.f, {k}), {new_f})"
            new_l = f"IF({frozen}, element_at(acc.l, {k}), {new_l})"
        f_elems.append(new_f)
        l_elems.append(new_l)

    state_fields = [f"'f', array({', '.join(f_elems)})"]
    init_fields = [f"'f', array_repeat(CAST(-1 AS BIGINT), {n})"]
    if strict_increase:
        state_fields.append(f"'l', array({', '.join(l_elems)})")
        init_fields.append(f"'l', array_repeat(CAST(-1 AS BIGINT), {n})")
    if strict_order:
        state_fields.append("'fe', IF(acc.r >= 0, acc.fe, acc.fe OR x.i = 1)")
        init_fields.append("'fe', false")
    if need_r:
        # CH RETURNS the moment the top level is reached — under
        # strict_dedup that is semantic, not an optimization: a later
        # duplicate entry must not downgrade an already-complete funnel
        top = "x.i = 1" if n == 1 else chain_ok(n)
        new_r = (
            "CASE WHEN acc.r >= 0 THEN acc.r "
            + (f"WHEN {hit_break} THEN {prefix} " if strict_order else "")
            + (f"WHEN {hit_dedup} THEN x.i " if strict_dedup else "")
            + (f"WHEN {hit_order} THEN {prefix} " if strict_order else "")
            + f"WHEN {top} THEN {n} "
            + "ELSE -1 END"
        )
        state_fields.append(f"'r', {new_r}")
        init_fields.append("'r', -1")
    init = f"named_struct({', '.join(init_fields)})"
    step = f"named_struct({', '.join(state_fields)})"
    final = (
        f"IF(acc.r >= 0, acc.r, {prefix})" if need_r else prefix
    )
    return (
        f"aggregate({entries}, {init}, (acc, x) -> {step}, "
        f"acc -> {final})"
    )


def _parse_seq_pattern(
    p: list[str], v: list[str]
) -> tuple[list[int], list[tuple[str, int] | None], str]:
    """Shared pattern/arg validation for sequenceMatch/sequenceCount:
    returns (step condition indexes, per-edge time constraints, struct
    field list SQL). ``constraints[j]`` is ``(op, micros)`` binding the
    gap between matched steps j and j+1, or None. Supported pattern
    elements: ``(?N)``, ``.*``, and ``(?t op N)`` with op in
    < <= > >= == (seconds, as CH); sequenceMatch dispatches ``==``
    patterns to the achieved-set fold, sequenceCount rejects all
    time constraints."""
    import re

    if len(p) != 1:
        raise ValueError("sequence pattern aggregates take exactly one pattern")
    pat = p[0].strip()
    if not (len(pat) >= 2 and pat[0] == "'" and pat[-1] == "'"):
        raise ValueError("sequence pattern must be a string literal")
    body = pat[1:-1]
    steps: list[int] = []
    constraints: list[tuple[str, int] | None] = []
    pending: tuple[str, int] | None = None
    i = 0
    while i < len(body):
        if body.startswith(".*", i):
            i += 2
            continue
        m = re.match(r"\(\?t\s*(<=|>=|==|<|>)\s*(\d+)\)", body[i:])
        if m:
            op, secs = m.group(1), int(m.group(2))
            if not steps:
                raise ValueError(
                    "sequence time constraint must follow a (?N) step"
                )
            if pending is not None:
                raise ValueError(
                    "two time constraints between the same steps"
                )
            pending = (op, secs * 1_000_000)
            i += m.end()
            continue
        m = re.match(r"\(\?(\d+)\)", body[i:])
        if not m:
            raise ValueError(
                f"unsupported sequence pattern at {body[i:]!r} "
                "(only (?N), (?t op N) and .* are supported)"
            )
        if steps:
            constraints.append(pending)
            pending = None
        steps.append(int(m.group(1)))
        i += m.end()
    if pending is not None:
        raise ValueError("trailing time constraint binds no following step")
    ts, conds = v[0], v[1:]
    if not steps:
        raise ValueError("sequence pattern references no conditions")
    if any(not 1 <= s <= len(conds) for s in steps):
        raise ValueError("sequence pattern references a missing cond")
    # sort key: timestamp, then NEGATED step-match flags in step order —
    # within a tie group an event matching step j sorts before one
    # matching only step j+1, so tied distinct events chain with the
    # ``t1 <= t2`` semantics the declarative >= oracles use (the m
    # fields after them are deterministic tiebreakers)
    fields = ", ".join(
        [f"unix_micros(CAST({ts} AS TIMESTAMP)) AS t"]
        + [
            f"(NOT ({conds[s - 1]})) AS s{j + 1}"
            for j, s in enumerate(steps)
        ]
        + [f"({c}) AS m{i + 1}" for i, c in enumerate(conds)]
    )
    # r18 (guide §2.3 aggregate less): every sequence fold is a no-op
    # on an event matching NO step-referenced condition (greedy
    # advance, achieved-set and min/max-frontier transitions all key on
    # x.m{step}), so those rows are dropped at the partial-aggregation
    # side via collect_list's NULL-skip instead of riding through the
    # sort + interpreted fold. NULL conds drop here exactly as they
    # never transitioned before.
    anym = " OR ".join(f"({conds[s - 1]})" for s in sorted(set(steps)))
    entries = (
        f"array_sort(collect_list("
        f"CASE WHEN {anym} THEN struct({fields}) END))"
    )
    return steps, constraints, entries


def _sequence_count_timed(
    steps: list[int],
    constraints: list[tuple[str, int] | None],
    entries: str,
) -> str:
    """Time-constrained ``sequenceCount``: the exact MAXIMUM number of
    sequential non-overlapping chains (chain i+1 starts strictly after
    chain i's completing event — CH's documented "starts to search for
    the next chain after the current chain is matched").

    The single-pointer greedy that serves the untimed count is NOT
    exact under gap constraints (it can bind step 1 to a predecessor
    that violates a later gap while another predecessor satisfies it),
    so this fold keeps the full achieved-set DP of
    ``_sequence_match_set_fold`` plus a counter: every entry at which
    the final level becomes feasible is the EARLIEST completion of a
    chain in the current segment — count it and RESET the levels, so
    the next chain sees only later entries. Earliest-completion
    restart is optimal for sequential chain counting by the classic
    activity-selection exchange argument, so the count is the true
    maximum, not a greedy artifact."""
    k = len(steps)
    arr = "acc.s"
    complete = (
        f"(x.m{steps[k - 1]} AND "
        f"{_set_fold_feas(steps, constraints, arr, k - 1)})"
    )
    elems = _set_fold_elems(steps, constraints, arr)
    empty = f"array_repeat(CAST(array() AS ARRAY<BIGINT>), {k})"
    return (
        f"aggregate({entries}, "
        f"named_struct('s', {empty}, 'c', 0), "
        f"(acc, x) -> IF({complete}, "
        f"named_struct('s', {empty}, 'c', acc.c + 1), "
        f"named_struct('s', array({', '.join(elems)}), 'c', acc.c)), "
        f"acc -> acc.c)"
    )


def _sequence_count(p: list[str], v: list[str]) -> str:
    """CH ``sequenceCount('(?1)(?2)...')(ts, conds...)`` → the number
    of NON-OVERLAPPING ordered matches of the pattern. Greedy
    advance-on-first-match over the time-sorted events is optimal for
    non-overlapping subsequence counting (exchange argument), so one
    O(n) fold with state (progress, count) is exact. Patterns with
    ``(?t op N)`` time constraints (r12b) dispatch to the achieved-set
    DP with reset-on-completion (``_sequence_count_timed``)."""
    steps, constraints, entries = _parse_seq_pattern(p, v)
    if any(c is not None for c in constraints):
        if len(steps) < 2:
            raise ValueError(
                "sequence time constraint must bind two steps"
            )
        return _sequence_count_timed(steps, constraints, entries)
    k = len(steps)
    adv = " ".join(
        f"WHEN acc.p = {j} AND x.m{steps[j]} THEN "
        + ("0" if j == k - 1 else str(j + 1))
        for j in range(k)
    )
    newp = f"(CASE {adv} ELSE acc.p END)"
    newc = f"(acc.c + IF(acc.p = {k - 1} AND x.m{steps[k - 1]}, 1, 0))"
    return (
        f"aggregate({entries}, "
        f"named_struct('p', 0, 'c', 0), "
        f"(acc, x) -> named_struct('p', {newp}, 'c', {newc}), "
        f"acc -> acc.c)"
    )


def _set_fold_feas(
    steps: list[int],
    constraints: list[tuple[str, int] | None],
    arr: str,
    j: int,
) -> str:
    """Can a length-j achieved prefix (levels stored in the
    array-of-arrays expression ``arr``) extend to level j+1 on an
    event at ``x.t``? Equality gaps are set membership; one-sided ops
    are ``exists`` over the same achieved arrays — both exact."""
    lvl = f"element_at({arr}, {j})"
    c = constraints[j - 1]
    if c is None:
        return f"size({lvl}) > 0"
    op, us = c
    if op == "==":
        return f"array_contains({lvl}, x.t - {us})"
    cmp = {"<=": ">=", "<": ">", ">=": "<=", ">": "<"}[op]
    return f"exists({lvl}, p -> p {cmp} x.t - {us})"


def _set_fold_elems(
    steps: list[int],
    constraints: list[tuple[str, int] | None],
    arr: str,
) -> list[str]:
    """Per-level update expressions for the achieved-set fold: level
    j+1 appends the event's own t when the event matches step j+1 and
    a feasible length-j prefix exists. Dedup on append bounds each
    level by the group's distinct timestamps — the same order of
    state the plan already materializes via ``collect_list``."""
    elems = []
    for j in range(len(steps)):
        lvl = f"element_at({arr}, {j + 1})"
        ok = (
            f"x.m{steps[j]}"
            if j == 0
            else f"(x.m{steps[j]} AND {_set_fold_feas(steps, constraints, arr, j)})"
        )
        elems.append(
            f"IF({ok} AND NOT array_contains({lvl}, x.t), "
            f"array_append({lvl}, x.t), {lvl})"
        )
    return elems


def _sequence_match_set_fold(
    steps: list[int],
    constraints: list[tuple[str, int] | None],
    entries: str,
) -> str:
    """Exact sequenceMatch fold for patterns with a ``(?t==N)``
    constraint: level j keeps the DEDUPLICATED array of timestamps at
    which a length-j prefix match can end (``_set_fold_elems``), and
    the group matches iff the top level is non-empty after the fold."""
    k = len(steps)
    elems = _set_fold_elems(steps, constraints, "acc")
    return (
        f"IF(aggregate({entries}, "
        f"array_repeat(CAST(array() AS ARRAY<BIGINT>), {k}), "
        f"(acc, x) -> array({', '.join(elems)}), "
        f"acc -> size(element_at(acc, {k})) > 0), 1, 0)"
    )


def _sequence_match(p: list[str], v: list[str]) -> str:
    """CH ``sequenceMatch('(?1)(?2)...')(ts, cond1, ..., condN)`` → 1
    if the pattern's conditions occur as an ordered subsequence of the
    group's events (intervening events allowed, CH semantics), else 0.

    Supported pattern elements: ``(?N)`` references, ``.*`` (a no-op
    under subsequence semantics), and ``(?t op N)`` adjacent-step time
    constraints with op in < <= > >= == (r12). One-sided constraints
    fold over an EXACT per-level (min, max) frontier of achievable
    matched-event timestamps: a transition on an event at time t needs
    only one achievable predecessor satisfying the gap constraint, and
    each one-sided gap test is monotone in the predecessor timestamp —
    ``t - prev <= N`` ⇔ ``prev >= t - N`` ⇔ ``max_prev >= t - N``,
    ``t - prev > N`` ⇔ ``min_prev <= t - N`` — so the set's min/max
    decide feasibility exactly, and the newly achievable value at the
    next level is always the event's own t. ``(?t==N)`` is NOT
    monotone in the predecessor, so any pattern containing it switches
    to the exact achieved-SET fold (``_sequence_match_set_fold``):
    per-level deduplicated arrays of achieved timestamps answer the
    equality-membership test with ``array_contains``. State is
    O(distinct matched timestamps) per group instead of O(1) — still
    bounded by the group the plan already collects."""
    steps, constraints, entries = _parse_seq_pattern(p, v)
    k = len(steps)
    if any(c is not None and c[0] == "==" for c in constraints):
        return _sequence_match_set_fold(steps, constraints, entries)
    if not any(c is not None for c in constraints):
        elems = [f"(element_at(acc, 1) OR x.m{steps[0]})"] + [
            f"(element_at(acc, {j + 1}) OR "
            f"(x.m{steps[j]} AND element_at(acc, {j})))"
            for j in range(1, k)
        ]
        return (
            f"IF(element_at(aggregate("
            f"{entries}, "
            f"array_repeat(false, {k}), "
            f"(acc, x) -> array({', '.join(elems)})), {k}), 1, 0)"
        )
    LO, HI = "-9223372036854775808", "9223372036854775807"
    mn_elems = [
        f"IF(x.m{steps[0]}, least(element_at(acc.mn, 1), x.t), "
        "element_at(acc.mn, 1))"
    ]
    mx_elems = [
        f"IF(x.m{steps[0]}, greatest(element_at(acc.mx, 1), x.t), "
        "element_at(acc.mx, 1))"
    ]
    for j in range(1, k):
        reached = f"element_at(acc.mx, {j}) > {LO}"
        c = constraints[j - 1]
        if c is None:
            ok = reached
        else:
            op, us = c
            if op in ("<=", "<"):
                # gap op us ⇔ prev {>=,>} t - us ⇔ max_prev {>=,>} t - us
                cmp = ">=" if op == "<=" else ">"
                ok = f"({reached} AND element_at(acc.mx, {j}) {cmp} x.t - {us})"
            else:
                cmp = "<=" if op == ">=" else "<"
                ok = f"({reached} AND element_at(acc.mn, {j}) {cmp} x.t - {us})"
        adv = f"(x.m{steps[j]} AND {ok})"
        mn_elems.append(
            f"IF({adv}, least(element_at(acc.mn, {j + 1}), x.t), "
            f"element_at(acc.mn, {j + 1}))"
        )
        mx_elems.append(
            f"IF({adv}, greatest(element_at(acc.mx, {j + 1}), x.t), "
            f"element_at(acc.mx, {j + 1}))"
        )
    init = (
        f"named_struct('mn', array_repeat(CAST({HI} AS BIGINT), {k}), "
        f"'mx', array_repeat(CAST({LO} AS BIGINT), {k}))"
    )
    step = (
        f"named_struct('mn', array({', '.join(mn_elems)}), "
        f"'mx', array({', '.join(mx_elems)}))"
    )
    return (
        f"IF(aggregate({entries}, "
        f"{init}, (acc, x) -> {step}, "
        f"acc -> element_at(acc.mx, {k}) > {LO}), 1, 0)"
    )

_WORD0 = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_")

# Keywords a following `[` can never subscript — `SELECT [1, 2]` is an
# array literal, `arr[1]` is a subscript.
_BRACKET_KEYWORDS = frozenset(
    "select from where and or not in by as on when then else end join "
    "all any union except intersect having limit offset distinct case "
    "like rlike between is null values then using".split()
)


def _rewrite_brackets(s: str) -> str:
    """CH bracket syntax → Spark (r09): array LITERALS ``[1, 2]`` →
    ``array(1, 2)`` (Spark has no bare-bracket literal) and identifier
    SUBSCRIPTS ``arr[i]`` → ``element_at(arr, i)`` — CH subscripts are
    1-based with negative-from-end, exactly Spark's ``element_at``,
    whereas Spark's own ``arr[i]`` is 0-based and would be silently
    off-by-one. A subscript on a non-identifier operand (``f(x)[1]``)
    fails loudly — use ``arrayElement``."""
    import re

    out: list[str] = []
    prev_sig = ""
    prev_word = ""
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"":
            j = _scan_string(s, i)
            out.append(s[i:j])
            prev_sig, prev_word = "'", ""
            i = j
            continue
        if s[i : i + 2] == "--":
            j = s.find("\n", i)
            j = n if j < 0 else j
            out.append(s[i:j])
            i = j
            continue
        if c.isalnum() or c == "_":
            j = i
            while j < n and (s[j].isalnum() or s[j] == "_"):
                j += 1
            w = s[i:j]
            out.append(w)
            prev_word, prev_sig = w.lower(), w[-1]
            i = j
            continue
        if c == "[":
            depth, j = 1, i + 1
            while j < n and depth:
                if s[j] in "'\"":
                    j = _scan_string(s, j)
                    continue
                if s[j] in "([":
                    depth += 1
                elif s[j] in ")]":
                    depth -= 1
                j += 1
            inner = _rewrite_brackets(s[i + 1 : j - 1])
            is_sub = bool(prev_sig) and (
                prev_sig.isalnum() or prev_sig == "_"
            ) and prev_word not in _BRACKET_KEYWORDS
            if prev_sig and prev_sig in ")]":
                # subscript directly after one of OUR OWN single-piece
                # emissions (an array literal or a previous subscript)
                # is unambiguous — pop it as the operand
                if out and out[-1].startswith(("array(", "try_element_at(")):
                    operand = out.pop()
                    out.append(f"try_element_at({operand}, {inner})")
                    prev_sig, prev_word = ")", ""
                    i = j
                    continue
                raise ValueError(
                    "subscript after an expression is ambiguous — use "
                    "arrayElement(expr, i)"
                )
            if is_sub:
                ops: list[str] = []
                while out and (re.fullmatch(r"\w+", out[-1]) or out[-1] == "."):
                    ops.insert(0, out.pop())
                # try_element_at: out-of-range yields NULL instead of
                # Spark-4-ANSI's INVALID_ARRAY_INDEX error (CH returns
                # the type default — NULL is the documented delta that
                # keeps valid CH queries executable; review r09)
                out.append(f"try_element_at({''.join(ops)}, {inner})")
            elif prev_word == "in":
                # `x IN [1, 2]` — Spark's IN wants a parenthesized
                # list, not an array literal (review r09)
                out.append(f"({inner})")
            else:
                out.append(f"array({inner})")
            prev_sig, prev_word = ")", ""
            i = j
            continue
        if not c.isspace():
            prev_sig, prev_word = c, ""
        out.append(c)
        i += 1
    return "".join(out)


def _rewrite(s: str) -> str:
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"":
            j = _scan_string(s, i)
            out.append(s[i:j])
            i = j
            continue
        if c == "-" and s[i : i + 2] == "--":
            j = s.find("\n", i)
            j = n if j < 0 else j
            out.append(s[i:j])
            i = j
            continue
        if c in _WORD0:
            j = i
            while j < n and (s[j].isalnum() or s[j] == "_"):
                j += 1
            name = s[i:j]
            k = j
            while k < n and s[k].isspace():
                k += 1
            if k < n and s[k] == "(":
                raw_args, close = _parse_args(s, k)
                args = [_rewrite(a) for a in raw_args]
                lo = name.lower()
                k2 = close + 1
                while k2 < n and s[k2].isspace():
                    k2 += 1
                if lo in PARAMETRIC and k2 < n and s[k2] == "(":
                    raw2, close2 = _parse_args(s, k2)
                    out.append(PARAMETRIC[lo](args, [_rewrite(a) for a in raw2]))
                    i = close2 + 1
                    continue
                rule = FUNCS.get(lo)
                out.append(
                    rule(args) if rule else f"{name}({', '.join(args)})"
                )
                i = close + 1
                continue
            out.append(name)
            i = j
            continue
        out.append(c)
        i += 1
    return "".join(out)


# --------------------------------------- CH clause rewrites (round 8)

# Engine-policy sampling keys (CH declares these in DDL as SAMPLE BY;
# the engine has no DDL layer, so the catalog's primary keys stand in).
SAMPLE_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _depth0_matches(text: str, pattern: str):
    """Regex matches at paren depth 0 and outside string literals."""
    import re

    lits = _literal_spans(text)

    def in_lit(i: int) -> bool:
        return any(a <= i < b for a, b in lits)

    depths = [0] * (len(text) + 1)
    d = 0
    for i, ch in enumerate(text):
        if not in_lit(i):
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
        depths[i + 1] = d
    return [
        m
        for m in re.finditer(pattern, text, flags=re.IGNORECASE)
        if not in_lit(m.start()) and depths[m.start()] == 0
    ]


def _map_subqueries(text: str, fn) -> str:
    """Apply ``fn`` to the contents of every top-level parenthesized
    group, outside string literals. ``fn`` re-enters here itself for
    deeper nesting, so recursion depth tracks paren depth."""
    lits = _literal_spans(text)

    def in_lit(i: int) -> bool:
        return any(a <= i < b for a, b in lits)

    out, i, n = [], 0, len(text)
    while i < n:
        if text[i] == "(" and not in_lit(i):
            depth, j = 1, i + 1
            while j < n and depth:
                if not in_lit(j):
                    if text[j] == "(":
                        depth += 1
                    elif text[j] == ")":
                        depth -= 1
                j += 1
            out.append("(" + fn(text[i + 1 : j - 1]) + ")")
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def _split_depth0(text: str, sep: str = ",") -> list[str]:
    """Split ``text`` on ``sep`` at paren depth 0, outside literals."""
    lits = _literal_spans(text)
    parts, start, d = [], 0, 0
    for i, ch in enumerate(text):
        if any(a <= i < b for a, b in lits):
            continue
        if ch in "([":
            d += 1
        elif ch in ")]":
            d -= 1
        elif ch == sep and d == 0:
            parts.append(text[start:i].strip())
            start = i + 1
    parts.append(text[start:].strip())
    return [p for p in parts if p]


# Sentinel prefix shielding *internally emitted* Spark SQL from the CH
# function-map pass. The clause rewrites run BEFORE the function pass
# (translate_ch_sql ordering), so any Spark function they emit whose
# name collides with a CH mapping would get re-mapped as if the user
# had written CH — e.g. the SAMPLE band's portable MD5
# (operators/dedup.py:portable_hash_spark_sql) was clobbered by the
# `md5 → unhex(md5(...))` byte-contract mapping (the r9
# ch_dialect_sample_limit_by regression). Purely-internal fragments
# shield every map-hit name; translate_ch_sql strips the prefix as its
# final act, after the function pass can no longer see the names.
_INTERNAL = "__chb_keep__"


def _shield_internal(sql: str) -> str:
    """Prefix every FUNCS/PARAMETRIC-mapped function name in an
    internally-generated Spark SQL fragment so the later CH
    function-map pass leaves it untouched. Only for fragments that
    contain NO user-written CH expressions."""
    import re

    def sub(m):
        name = m.group(1)
        lo = name.lower()
        if lo in FUNCS or lo in PARAMETRIC:
            return f"{_INTERNAL}{name}{m.group(2)}"
        return m.group(0)

    return re.sub(r"\b([A-Za-z_][A-Za-z0-9_]*)(\s*\()", sub, sql)


def _rewrite_with_fill(text: str) -> str:
    """CH ``ORDER BY col WITH FILL FROM a TO b [STEP s]`` → dense-grid
    FULL OUTER JOIN (the translator-level twin of
    ``plans/chclauses.py:fill_series_days``): generate the grid with
    ``sequence`` (TO is EXCLUSIVE, per CH), join the query onto it, and
    coalesce the remaining output columns to 0 on gap rows.

    Contract (documented deltas): single integer fill key with literal
    numeric bounds at the top level; non-key output columns must be
    numeric (CH fills strings with ``''`` — a string column here would
    coalesce to '0' via Spark's implicit cast, so don't). Every select
    item must carry a resolvable alias. Violations fail loudly.

    Scale: the grid is ``(b-a)/s`` rows built by one ``sequence`` —
    no driver round-trip; the join key is the fill column, and original
    rows outside [a, b) are preserved by the FULL OUTER join exactly as
    CH preserves them."""
    import re

    ms = _depth0_matches(
        text,
        r"\bORDER\s+BY\s+(\w+)\s+WITH\s+FILL\s+FROM\s+(-?\d+)\s+TO\s+(-?\d+)"
        r"(?:\s+STEP\s+(\d+))?"
        r"(?:\s+INTERPOLATE\s*\(\s*([\w\s,]+?)\s*\))?\s*$",
    )
    if not ms:
        if _depth0_matches(text, r"\bWITH\s+FILL\b"):
            raise ValueError(
                "WITH FILL: only 'ORDER BY key WITH FILL FROM a TO b "
                "[STEP s] [INTERPOLATE (cols)]' with one key and literal "
                "integer bounds is supported at the top level"
            )
        return text
    m = ms[0]
    key, lo, hi, step = m.group(1), m.group(2), m.group(3), m.group(4) or "1"
    interp = [
        c.strip() for c in (m.group(5) or "").split(",") if c.strip()
    ]
    inner = text[: m.start()].rstrip()
    # output aliases from the top-level select list
    sel = _depth0_matches(inner, r"\bSELECT\b")
    frm = _depth0_matches(inner, r"\bFROM\b")
    if not sel or not frm:
        raise ValueError("WITH FILL: could not locate the select list")
    items = _split_top_level_commas(inner[sel[0].end() : frm[0].start()])
    aliases = []
    for it in items:
        am = re.search(r"\bAS\s+(\w+)\s*$", it.strip(), re.IGNORECASE)
        name = am.group(1) if am else it.strip()
        if not re.fullmatch(r"\w+", name):
            raise ValueError(
                f"WITH FILL: select item {it.strip()!r} needs an alias"
            )
        aliases.append(name)
    if key not in aliases:
        raise ValueError(
            f"WITH FILL key {key!r} is not an output column of the query"
        )
    others = [a for a in aliases if a != key]
    bad = [c for c in interp if c not in others]
    if bad:
        raise ValueError(
            f"INTERPOLATE column(s) {bad} not in the query's output "
            "(only bare output-column carry-forward is supported)"
        )

    def col_out(a: str) -> str:
        if a in interp:
            # carry-forward on gap rows (CH INTERPOLATE (col) default:
            # previous row's value). The window spans the RESULT set —
            # |grid| + |groups| rows, bounded by the aggregation's
            # output, never the corpus.
            return (
                f"(CASE WHEN __q.{key} IS NULL THEN "
                f"coalesce(last_value(__q.{a}, true) OVER ("
                f"ORDER BY coalesce(__q.{key}, __g.__fill) "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
                f"ELSE __q.{a} END) AS {a}"
            )
        return f"(CASE WHEN __q.{key} IS NULL THEN 0 ELSE __q.{a} END) AS {a}"

    # fill rows (no matching query row) get 0 (or the INTERPOLATE
    # carry); REAL rows keep their values verbatim, including NULLs —
    # CH never rewrites them
    out_cols = ", ".join(
        [f"coalesce(__q.{key}, __g.__fill) AS {key}"]
        + [col_out(a) for a in others]
    )
    b = f"CAST({hi} AS BIGINT)"
    grid = (
        f"SELECT explode(filter(sequence(CAST({lo} AS BIGINT), {b}, "
        f"CAST({step} AS BIGINT)), __v -> __v < {b})) AS __fill"
    )
    return (
        f"WITH __q AS ({inner}), __g AS ({grid}) "
        f"SELECT {out_cols} FROM __g FULL OUTER JOIN __q "
        f"ON __q.{key} = __g.__fill ORDER BY {key}"
    )


def _split_top_level_commas(s: str) -> list[str]:
    """Split on commas at paren/bracket depth 0 outside literals."""
    lits = _literal_spans(s)
    out, d, last = [], 0, 0
    for i, ch in enumerate(s):
        if any(a <= i < b for a, b in lits):
            continue
        if ch in "([":
            d += 1
        elif ch in ")]":
            d -= 1
        elif ch == "," and d == 0:
            out.append(s[last:i])
            last = i + 1
    out.append(s[last:])
    return out


def _rewrite_sample_clause(text: str) -> str:
    """CH ``FROM table SAMPLE k/n [OFFSET m/n]`` → a hash-band-filtered
    subquery aliased as the table (``functions/dialect.py:sample_clause``
    semantics: deterministic, non-overlapping OFFSET bands, evaluated in
    the scan stage after Catalyst pushes the derived filter). Works at
    any nesting depth — the rewrite is local to the FROM item."""
    import re

    from clickhouse_build_spark.functions.dialect import sample_clause_spark_sql

    pat = re.compile(
        r"\bFROM\s+(\w+)\s+SAMPLE\s+(\d+)\s*/\s*(\d+)"
        r"(?:\s+OFFSET\s+(\d+)\s*/\s*(\d+))?",
        flags=re.IGNORECASE,
    )
    lits = _literal_spans(text)

    def in_lit(i: int) -> bool:
        return any(a <= i < b for a, b in lits)

    out, i = [], 0
    for m in pat.finditer(text):
        if in_lit(m.start()):
            continue
        tbl, num, den = m.group(1), int(m.group(2)), int(m.group(3))
        off_num, off_den = int(m.group(4) or 0), int(m.group(5) or m.group(3))
        if off_den != den:
            raise ValueError(
                f"SAMPLE {num}/{den} OFFSET {m.group(4)}/{off_den}: "
                "offset denominator must match the sample denominator"
            )
        key = SAMPLE_KEYS.get(tbl.lower())
        if key is None:
            raise ValueError(
                f"SAMPLE on {tbl!r}: no sampling key declared (SAMPLE_KEYS)"
            )
        band = _shield_internal(sample_clause_spark_sql(key, num, den, off_num))
        out.append(text[i : m.start()])
        out.append(f"FROM (SELECT * FROM {tbl} WHERE {band}) AS {tbl}")
        i = m.end()
    out.append(text[i:])
    return "".join(out)


# ReplacingMergeTree read contracts for ``FROM table FINAL`` (engine
# policy, mirroring the CDC reader's latest-per-key rule): key columns,
# version column, unique tiebreaker. Only tables with a declared
# contract accept FINAL — CH itself only allows it on *MergeTree
# engines with an ORDER BY key.
REPLACING_KEYS: dict[str, tuple[tuple[str, ...], str, str]] = {
    "events": (("user_id",), "ts", "event_id"),
}


def _rewrite_prewhere(text: str) -> str:
    """CH ``PREWHERE p [WHERE w]`` → ``WHERE (p) AND (w)``. PREWHERE is
    a physical hint (evaluate p against the narrow column set before
    fetching the rest); Catalyst's own predicate pushdown does exactly
    that, so the semantic rewrite is a plain conjunction."""
    import re

    ms = _depth0_matches(text, r"\bPREWHERE\b")
    if not ms:
        return text
    if len(ms) > 1:
        raise ValueError("multiple top-level PREWHERE clauses")
    m = ms[0]
    rest = text[m.end() :]
    stop = _depth0_matches(
        rest, r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|SETTINGS)\b"
    )
    if stop and re.match(r"WHERE\b", stop[0].group(0), re.IGNORECASE):
        p = rest[: stop[0].start()].strip()
        after = rest[stop[0].end() :]
        nxt = _depth0_matches(
            after, r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|SETTINGS)\b"
        )
        cut = nxt[0].start() if nxt else len(after)
        w = after[:cut].strip()
        tail = after[cut:]
        return (
            f"{text[: m.start()]}WHERE ({p}) AND ({w}) {tail.lstrip()}".rstrip()
        )
    cut = stop[0].start() if stop else len(rest)
    p = rest[:cut].strip()
    tail = rest[cut:]
    return f"{text[: m.start()]}WHERE {p} {tail.lstrip()}".rstrip()


def _rewrite_with_totals(text: str) -> str:
    """CH ``GROUP BY keys WITH TOTALS`` → ``GROUP BY GROUPING SETS
    ((keys), ())`` — the totals row is exactly the grand-total grouping
    set, with NULL group keys on every engine."""
    ms = _depth0_matches(text, r"\bGROUP\s+BY\b")
    for m in reversed(ms):
        rest = text[m.end() :]
        tot = _depth0_matches(rest, r"\bWITH\s+TOTALS\b")
        if not tot:
            continue
        keys = rest[: tot[0].start()].strip().rstrip(",")
        tail = rest[tot[0].end() :]
        return (
            f"{text[: m.start()]}GROUP BY GROUPING SETS (({keys}), ())"
            f"{tail}"
        )
    return text


def _rewrite_array_join(text: str, _counter: list[int] | None = None) -> str:
    """CH ``FROM t [LEFT] ARRAY JOIN expr AS alias`` → Spark
    ``FROM t LATERAL VIEW [OUTER] explode(expr) __ajN AS alias`` (one
    array expression; LEFT keeps rows whose array is empty/NULL, same
    as CH LEFT ARRAY JOIN). Handles occurrences at any nesting level:
    top-level clauses rewrite in place, then the rewriter recurses into
    parenthesized subqueries with a SHARED alias counter so every
    lateral view in the statement gets a distinct name (ADVICE r08 +
    VERDICT r08 missing #6)."""
    import re

    counter = _counter if _counter is not None else [0]
    while True:
        ms = _depth0_matches(
            text, r"\b(LEFT\s+)?ARRAY\s+JOIN\b"
        )
        if not ms:
            lits = _literal_spans(text)
            nested = [
                m
                for m in re.finditer(r"\bARRAY\s+JOIN\b", text, re.IGNORECASE)
                if not any(a <= m.start() < b for a, b in lits)
            ]
            if nested:
                return _map_subqueries(
                    text, lambda s: _rewrite_array_join(s, counter)
                )
            return text
        m = ms[0]
        outer = "OUTER " if m.group(1) else ""
        rest = text[m.end() :]
        stop = _depth0_matches(
            rest,
            r"\b(WHERE|PREWHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT"
            r"|SETTINGS|(LEFT\s+)?ARRAY\s+JOIN)\b",
        )
        cut = stop[0].start() if stop else len(rest)
        item = rest[:cut].strip()
        tail = rest[cut:]
        am = re.match(r"(?s)^(.*?)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
        if not am:
            raise ValueError(
                "ARRAY JOIN requires 'expr AS alias' (one array expression)"
            )
        expr, alias = am.group(1).strip(), am.group(2)
        text = (
            f"{text[: m.start()]}LATERAL VIEW {outer}explode({expr}) "
            f"__aj{counter[0]} AS {alias} {tail.lstrip()}".rstrip()
        )
        counter[0] += 1


def _rewrite_final(text: str) -> str:
    """CH ``FROM table FINAL`` → the ReplacingMergeTree read rule as a
    row_number latest-per-key subquery aliased as the table, per the
    engine's declared ``REPLACING_KEYS`` contract (the same rule the
    CDC reader applies — ``sources/replication.py:latest_per_key``)."""
    import re

    pat = re.compile(
        r"\bFROM\s+(\w+)\s+FINAL\b(\s+SAMPLE\b)?", flags=re.IGNORECASE
    )
    lits = _literal_spans(text)

    def in_lit(i: int) -> bool:
        return any(a <= i < b for a, b in lits)

    out, i = [], 0
    for m in pat.finditer(text):
        if in_lit(m.start()):
            continue
        if m.group(2):
            raise ValueError(
                "FINAL combined with SAMPLE is not supported — CH samples "
                "pre-merge parts there, which has no faithful equivalent; "
                "sample the FINAL result explicitly instead"
            )
        tbl = m.group(1)
        contract = REPLACING_KEYS.get(tbl.lower())
        if contract is None:
            raise ValueError(
                f"FINAL on {tbl!r}: no ReplacingMergeTree key declared "
                "(REPLACING_KEYS)"
            )
        keys, version, tiebreak = contract
        part = ", ".join(keys)
        out.append(text[i : m.start()])
        out.append(
            f"FROM (SELECT * EXCEPT (__rn) FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY {part} "
            f"ORDER BY {version} DESC, {tiebreak} DESC) AS __rn "
            f"FROM {tbl}) WHERE __rn = 1) AS {tbl}"
        )
        i = m.end()
    out.append(text[i:])
    return "".join(out)


def _rewrite_asof_join(text: str) -> str:
    """CH ``FROM p ASOF [LEFT] JOIN b ON p.k = b.k AND p.ts >= b.ts`` →
    the union + ordered window carry-forward plan (r09; the SQL twin of
    ``operators/asof.py``): tag both sides, union on the key, one
    window per key ordered by (ts, side) carries the most recent build
    ROW STRUCT forward, keep the probe rows. ONE shuffle on the key,
    no row explosion — never the BroadcastNestedLoopJoin Spark would
    plan for the raw range condition. Qualified references to either
    alias in the select list and tail rewrite to the carried structs.

    Supported: one ASOF JOIN per query; sides are table names or
    parenthesized subqueries with aliases; ON = N equalities + exactly
    one inequality (>=, >, <=, < — direction picks backward/forward,
    strictness the equal-ts tiebreak). Deterministic ties require a
    build side unique per (key, ts) — pre-dedupe in a subquery, as CH
    itself leaves same-ts ties unspecified."""
    import re

    ms = _depth0_matches(text, r"\bASOF\s+(LEFT\s+)?JOIN\b")
    if not ms:
        return text
    if len(ms) > 1:
        raise ValueError("one ASOF JOIN per query")
    m = ms[0]
    left_outer = bool(m.group(1))
    frm = [f for f in _depth0_matches(text, r"\bFROM\b") if f.start() < m.start()]
    if not frm:
        raise ValueError("ASOF JOIN without a FROM clause")
    head = text[: frm[-1].start()]
    src1_txt = text[frm[-1].end() : m.start()].strip()
    rest = text[m.end() :]
    on = _depth0_matches(rest, r"\bON\b")
    if not on:
        raise ValueError("ASOF JOIN requires ON")
    src2_txt = rest[: on[0].start()].strip()
    after_on = rest[on[0].end() :]
    stop = _depth0_matches(
        after_on,
        r"\b(WHERE|PREWHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|SETTINGS)\b",
    )
    cut = stop[0].start() if stop else len(after_on)
    cond_txt = after_on[:cut].strip()
    tail = after_on[cut:]

    def parse_side(s: str) -> tuple[str, str]:
        sm = re.fullmatch(
            r"(?s)\s*(\w+|\(.*\))\s+(?:AS\s+)?(\w+)\s*", s, re.IGNORECASE
        )
        if not sm:
            raise ValueError(
                f"ASOF JOIN side needs 'table|(subquery) [AS] alias': {s!r}"
            )
        return sm.group(1), sm.group(2)

    src1, a1 = parse_side(src1_txt)
    src2, a2 = parse_side(src2_txt)
    if a1.lower() == a2.lower():
        raise ValueError(
            f"ASOF JOIN sides need distinct aliases, both are {a1!r}"
        )

    keys: list[tuple[str, str]] = []  # (probe expr, build expr)
    ineq: tuple[str, str, str] | None = None  # (probe ts, op, build ts)
    for cond in [
        c.strip()
        for c in re.split(r"(?i)\bAND\b", cond_txt)
        if c.strip()
    ]:
        cm = re.fullmatch(
            r"(?s)\s*(\w+)\.(\w+)\s*(=|>=|<=|>|<)\s*(\w+)\.(\w+)\s*", cond
        )
        if not cm:
            raise ValueError(f"unsupported ASOF JOIN condition: {cond!r}")
        lq, lc, op, rq, rc = cm.groups()
        if {lq, rq} != {a1, a2}:
            raise ValueError(
                f"ASOF JOIN condition must relate {a1!r} and {a2!r}: {cond!r}"
            )
        if lq == a2:  # normalize probe-side first
            lq, lc, rq, rc = rq, rc, lq, lc
            op = {">=": "<=", "<=": ">=", ">": "<", "<": ">", "=": "="}[op]
        if op == "=":
            keys.append((lc, rc))
        elif ineq is not None:
            raise ValueError("ASOF JOIN needs exactly one inequality")
        else:
            ineq = (lc, op, rc)
    if not keys or ineq is None:
        raise ValueError(
            "ASOF JOIN ON needs at least one equality and exactly one "
            "inequality"
        )
    pts, op, bts = ineq
    ts_dir = "ASC" if op in (">=", ">") else "DESC"
    # inclusive: build rows at equal ts sort BEFORE the probe (seen by
    # the carry); strict: probe first (equal-ts build rows unseen)
    p_dir = "ASC" if op in (">=", "<=") else "DESC"

    klist = ", ".join(f"__k{i}" for i in range(len(keys)))
    pk = ", ".join(f"{a1}.{k[0]} AS __k{i}" for i, k in enumerate(keys))
    bk = ", ".join(f"{a2}.{k[1]} AS __k{i}" for i, k in enumerate(keys))
    # ASOF equality never matches NULL (CH/DuckDB semantics), but the
    # window PARTITION BY groups NULL keys together — so NULL-key build
    # rows are filtered out (they can match nothing) and NULL-key
    # probes sit in build-free partitions, correctly carrying no match
    # (review r09).
    b_not_null = " AND ".join(
        f"{a2}.{k[1]} IS NOT NULL" for k in keys
    )
    inner_filter = "" if left_outer else " AND __m IS NOT NULL"
    joined = (
        f"(SELECT __ps, __m FROM ("
        f"SELECT __p, __ps, last_value(__bs, true) OVER ("
        f"PARTITION BY {klist} ORDER BY __ts {ts_dir}, __p {p_dir} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __m "
        f"FROM ("
        f"SELECT {pk}, {a1}.{pts} AS __ts, 1 AS __p, "
        f"struct({a1}.*) AS __ps, NULL AS __bs FROM {src1} AS {a1} "
        f"UNION ALL "
        f"SELECT {bk}, {a2}.{bts} AS __ts, 0 AS __p, "
        f"NULL AS __ps, struct({a2}.*) AS __bs FROM {src2} AS {a2} "
        f"WHERE {b_not_null}"
        f")) WHERE __p = 1{inner_filter}) AS __asof"
    )

    def subst(s: str) -> str:
        lits = _literal_spans(s)
        out, i = [], 0
        for am in re.finditer(rf"\b({a1}|{a2})\.", s):
            if any(x <= am.start() < y for x, y in lits):
                continue
            out.append(s[i : am.start()])
            out.append(
                "__asof.__ps." if am.group(1) == a1 else "__asof.__m."
            )
            i = am.end()
        out.append(s[i:])
        return "".join(out)

    def expand_stars(s: str) -> str:
        # A bare `*` in the select list would silently return the
        # internal __ps/__m structs (ADVICE r09 medium) — expand it to
        # the joined row instead. `alias.*` needs nothing: subst maps
        # it to the struct-star `__asof.__ps.*`. A `*` preceded by an
        # operand (word char / `)`) is multiplication and is left
        # alone; only SELECT/DISTINCT/`,`-preceded stars expand.
        lits = _literal_spans(s)
        d, out, last = 0, [], 0
        for i, ch in enumerate(s):
            if any(a <= i < b for a, b in lits):
                continue
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            elif ch == "*" and d == 0 and (i == 0 or s[i - 1] != "."):
                j = i - 1
                while j >= 0 and s[j].isspace():
                    j -= 1
                bare = j < 0 or s[j] == ","
                if not bare and (s[j].isalnum() or s[j] == "_"):
                    k = j
                    while k >= 0 and (s[k].isalnum() or s[k] == "_"):
                        k -= 1
                    bare = s[k + 1 : j + 1].lower() in ("select", "distinct")
                if bare:
                    out.append(s[last:i])
                    out.append("__asof.__ps.*, __asof.__m.*")
                    last = i + 1
        out.append(s[last:])
        return "".join(out)

    return f"{subst(expand_stars(head))}FROM {joined} {subst(tail)}".rstrip()


def _strip_settings_and_global(text: str) -> str:
    """Drop the CH-only execution hints that change nothing
    semantically here: a trailing top-level ``SETTINGS k = v, ...``
    clause (per-query engine knobs) and the ``GLOBAL`` modifier on
    JOIN/IN (CH's distributed-subquery broadcast hint — Spark's
    optimizer owns that decision)."""
    import re

    ms = _depth0_matches(text, r"\bSETTINGS\b")
    if ms:
        # The tail must be ACTUAL key=value pairs — a permissive charset
        # here would silently swallow a trailing word-only clause like
        # FORMAT JSON and change query meaning (ADVICE r08).
        tail = text[ms[0].end() :].strip()
        _kv = r"\w+\s*=\s*('(?:[^'\\]|\\.|'')*'|[\w.+-]+)"
        if tail and not re.fullmatch(
            rf"{_kv}(\s*,\s*{_kv})*", tail
        ):
            raise ValueError("unsupported SETTINGS clause shape")
        text = text[: ms[0].start()].rstrip()
    lits = _literal_spans(text)
    out, i = [], 0
    for m in re.finditer(
        r"\bGLOBAL\s+(?=((ANY|ALL|LEFT|RIGHT|INNER|FULL|CROSS|SEMI|ANTI)\s+)*JOIN\b|IN\b|NOT\s+IN\b)",
        text,
        flags=re.IGNORECASE,
    ):
        if any(a <= m.start() < b for a, b in lits):
            continue
        out.append(text[i : m.start()])
        i = m.end()
    out.append(text[i:])
    return "".join(out)


def _rewrite_any_join(text: str) -> str:
    """CH ``ANY`` join strictness — ``[LEFT|INNER|RIGHT] ANY JOIN``
    (both CH spellings: ``LEFT ANY JOIN`` and the legacy
    ``ANY LEFT JOIN``) → dedupe the build side to ONE row per join key
    in a subquery, then a plain join of the same kind. CH documents
    "at most one match" with an UNSPECIFIED pick among duplicates;
    this rewrite pins the pick deterministically by ordering duplicate
    key groups on ``xxhash64(to_json(struct(*)))`` — a content hash,
    so the kept row is stable across runs and partitionings (identical
    rows are interchangeable), which keeps oracle hashes reproducible
    where CH itself would flap.

    The build side is the right table for LEFT/INNER ANY and the left
    table for RIGHT ANY. Supported: one ANY JOIN per query, table or
    parenthesized-subquery sides with aliases, ON with top-level
    equality conjunctions only (``USING`` and inequalities fail
    loudly).

    Scale: the dedup is one window over the build side partitioned by
    the join key — the same shuffle the join itself needs, and AQE can
    plan the deduped side as the broadcast build when it is small."""
    import re

    pat = (
        r"\b(?:ANY\s+(LEFT|INNER|RIGHT)\s+JOIN|"
        r"(LEFT|INNER|RIGHT)\s+ANY\s+JOIN|ANY\s+()JOIN)\b"
    )
    ms = _depth0_matches(text, pat)
    if not ms:
        return text
    if len(ms) > 1:
        raise ValueError("one ANY JOIN per query")
    m = ms[0]
    kind = (m.group(1) or m.group(2) or "INNER").upper()
    frm = [f for f in _depth0_matches(text, r"\bFROM\b") if f.start() < m.start()]
    if not frm:
        raise ValueError("ANY JOIN without a FROM clause")
    src1_txt = text[frm[-1].end() : m.start()].strip()
    rest = text[m.end() :]
    on = _depth0_matches(rest, r"\bON\b")
    if not on:
        raise ValueError(
            "ANY JOIN requires ON (USING is not supported)"
        )
    src2_txt = rest[: on[0].start()].strip()
    after_on = rest[on[0].end() :]
    stop = _depth0_matches(
        after_on,
        r"\b(WHERE|PREWHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|SETTINGS)\b",
    )
    cut = stop[0].start() if stop else len(after_on)
    cond_txt = after_on[:cut].strip()

    def parse_side(s: str) -> tuple[str, str]:
        sm = re.fullmatch(
            r"(?s)\s*(\w+|\(.*\))\s+(?:AS\s+)?(\w+)\s*", s, re.IGNORECASE
        )
        if not sm:
            raise ValueError(
                f"ANY JOIN side needs 'table|(subquery) [AS] alias': {s!r}"
            )
        return sm.group(1), sm.group(2)

    src1, a1 = parse_side(src1_txt)
    src2, a2 = parse_side(src2_txt)
    build_alias = a1 if kind == "RIGHT" else a2
    build_keys: list[str] = []
    for cond in [
        c.strip() for c in re.split(r"(?i)\bAND\b", cond_txt) if c.strip()
    ]:
        cm = re.fullmatch(
            r"(?s)\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*", cond
        )
        if not cm:
            raise ValueError(
                f"ANY JOIN supports only alias.col equality conditions: "
                f"{cond!r}"
            )
        lq, lc, rq, rc = cm.groups()
        if {lq, rq} != {a1, a2}:
            raise ValueError(
                f"ANY JOIN condition must relate {a1!r} and {a2!r}: {cond!r}"
            )
        build_keys.append(lc if lq == build_alias else rc)
    if not build_keys:
        raise ValueError("ANY JOIN ON needs at least one equality")

    keep = _INTERNAL  # keep Spark names out of the CH function pass
    klist = ", ".join(build_keys)
    def dedup(src: str) -> str:
        return (
            f"(SELECT * EXCEPT (__rn) FROM (SELECT *, "
            f"{keep}row_number() OVER (PARTITION BY {klist} "
            f"ORDER BY {keep}xxhash64({keep}to_json({keep}struct(*)))) "
            f"AS __rn FROM {src}) WHERE __rn = 1)"
        )

    if kind == "RIGHT":
        new_src1, new_src2 = dedup(src1), src2
    else:
        new_src1, new_src2 = src1, dedup(src2)
    joined = (
        f"{new_src1} AS {a1} {kind} JOIN {new_src2} AS {a2} ON"
    )
    return text[: frm[-1].end()] + f" {joined}" + after_on


def _rewrite_topk(text: str) -> str:
    """CH ``topK(n)(x)`` / ``topKWeighted(n)(x, w)`` aggregates → an
    EXACT structural rewrite (VERDICT r08 #5): per-(keys, x) counts,
    ``row_number() <= n`` ranked by count DESC with value-ASC tiebreak
    (CH leaves ties unspecified; this pins them deterministically so a
    DuckDB oracle can mirror it), then an array rebuilt in rank order.
    Where CH's SpaceSaving sketch is approximate, this is exact — and
    scale-safe: the heavy reduction is the grouped count (map-side
    combined); the window ranks only DISTINCT values per group and the
    collected array is capped at n elements before collect_list.

    Supported shape: one SELECT over one FROM/WHERE source with an
    optional simple-column GROUP BY; other select items must be group
    keys or aliased aggregates (computed in a sibling subquery joined
    back on the keys). HAVING / GROUPING SETS / expression keys fail
    loudly.
    """
    import re

    lits = _literal_spans(text)
    if not any(
        not any(a <= m.start() < b for a, b in lits)
        for m in re.finditer(r"\btopK(Weighted)?\s*\(", text, re.IGNORECASE)
    ):
        return text
    sel = _depth0_matches(text, r"\bSELECT\b(\s+DISTINCT\b)?")
    frm = _depth0_matches(text, r"\bFROM\b")
    if not sel or not frm or sel[0].group(1):
        raise ValueError("topK: unsupported query shape")
    select_span = text[sel[0].end() : frm[0].start()]
    after_from = text[frm[0].end() :]
    gb = _depth0_matches(after_from, r"\bGROUP\s+BY\b")
    stop = _depth0_matches(
        after_from, r"\bHAVING\b|\bORDER\s+BY\b|\bLIMIT\b|\bWINDOW\b"
    )
    if _depth0_matches(after_from, r"\bHAVING\b|\bGROUPING\s+SETS\b"):
        raise ValueError("topK with HAVING/GROUPING SETS is not supported")
    if gb:
        src = after_from[: gb[0].start()].strip()
        gb_end = stop[0].start() if stop else len(after_from)
        keys = _split_depth0(after_from[gb[0].end() : gb_end])
        tail = after_from[gb_end:].strip()
    else:
        cut = stop[0].start() if stop else len(after_from)
        src = after_from[:cut].strip()
        keys = []
        tail = after_from[cut:].strip()
    for k in keys:
        if not re.fullmatch(r"[\w.]+", k):
            raise ValueError(
                f"topK: GROUP BY keys must be simple columns, got {k!r}"
            )
    key_list = ", ".join(keys)

    # Locate every topK call inside each select item; rewrite items.
    topks: list[tuple[int, str, str | None]] = []  # (n, x, w)
    out_items: list[str] = []
    agg_items: list[str] = []
    alias_def: dict[str, str] = {}  # select alias → its expression
    for item in _split_depth0(select_span):
        m = re.search(r"\btopK(Weighted)?\s*\(", item, re.IGNORECASE)
        if not m:
            if re.fullmatch(r"[\w.]+", item.strip()):
                agg_items.append(item.strip())
                out_items.append(item.strip())
            else:
                am = re.search(r"\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
                if not am:
                    raise ValueError(
                        f"topK: sibling select item needs an alias: {item!r}"
                    )
                # computed in __agg; the outer select references the alias
                alias_def[am.group(1)] = item[: am.start()].strip()
                agg_items.append(item)
                out_items.append(am.group(1))
            continue
        weighted = bool(m.group(1))
        popen = item.index("(", m.start())
        params, close1 = _parse_args(item, popen)
        k2 = close1 + 1
        while k2 < len(item) and item[k2].isspace():
            k2 += 1
        if k2 >= len(item) or item[k2] != "(":
            raise ValueError("topK(n) requires a value argument list")
        vals, close2 = _parse_args(item, k2)
        n = int(params[0])
        x = vals[0]
        w = vals[1] if weighted else None
        idx = len(topks)
        topks.append((n, x, w))
        rewritten = item[: m.start()] + f"__topk{idx}" + item[close2 + 1 :]
        if re.search(r"\btopK(Weighted)?\s*\(", rewritten, re.IGNORECASE):
            raise ValueError("multiple topK calls per select item")
        out_items.append(rewritten)

    if not topks:
        # every topK sits inside a subquery, not this select list —
        # leave the text for the (unsupported-name) loud failure path
        return text
    pieces = []
    if keys:
        # The pieces join on a STRUCT of the group keys — struct
        # equality treats NULLs as equal, matching GROUP BY semantics
        # (a raw-column USING join would silently drop NULL-key groups;
        # review r09). Only __agg carries the raw key columns, so bare
        # key references in the select list and tail stay unambiguous;
        # an alias key derives from its defining expression.
        jk_exprs = ", ".join(alias_def.get(k, k) for k in keys)
        bare = {i for i in agg_items if re.fullmatch(r"[\w.]+", i)}
        inner_sel = ", ".join(
            [k for k in keys if k not in bare and k not in alias_def]
            + agg_items
            + [f"struct({jk_exprs}) AS __jk"]
        )
        pieces.append(
            f"(SELECT {inner_sel} FROM {src} GROUP BY {key_list}) AS __agg"
        )
    elif agg_items:
        pieces.append(
            f"(SELECT {', '.join(agg_items)} FROM {src}) AS __agg"
        )
    jkp = "__jk, " if keys else ""
    jk_deep = f"struct({', '.join(alias_def.get(k, k) for k in keys)}) AS __jk, " if keys else ""
    part = "PARTITION BY __jk " if keys else ""
    for i, (n, x, w) in enumerate(topks):
        c = f"sum({w})" if w else "count(*)"
        tk = (
            f"(SELECT {jkp}{_INTERNAL}transform(array_sort(collect_list("
            f"struct(__rn, __val))), s -> s.__val) AS __topk{i} "
            f"FROM (SELECT {jkp}__val, row_number() OVER ({part}"
            f"ORDER BY __c DESC, __val) AS __rn "
            f"FROM (SELECT {jk_deep}{x} AS __val, {c} AS __c FROM {src} "
            f"GROUP BY {'__jk, ' if keys else ''}{x})) "
            f"WHERE __rn <= {n}"
            f"{' GROUP BY __jk' if keys else ''}) AS __tk{i}"
        )
        pieces.append(tk)
    if keys:
        join = pieces[0] + "".join(
            f" JOIN {p} USING (__jk)" for p in pieces[1:]
        )
    else:
        join = pieces[0] + "".join(f" CROSS JOIN {p}" for p in pieces[1:])
    return f"SELECT {', '.join(out_items)} FROM {join} {tail}".rstrip()


def _resolve_order_aliases(order_list: str, inner: str) -> str:
    """Resolve ORDER BY expressions against ``inner``'s select-list
    aliases so both the row_number window and the outer ORDER BY over
    the ``__q``/``__lb`` subqueries reference columns the subquery
    actually outputs (ADVICE r08: ``ORDER BY count() DESC ... LIMIT n
    BY k`` would otherwise re-aggregate — or fail analysis — in the
    outer query). Bare (possibly qualified) identifiers pass through;
    an expression must match a select item's text (case- and
    whitespace-insensitively) and is replaced by that item's alias;
    anything unresolvable fails loudly."""
    import re

    def norm(s: str) -> str:
        return re.sub(r"\s+", "", s).lower()

    sel = _depth0_matches(inner, r"\bSELECT\b(\s+DISTINCT\b)?")
    frm = _depth0_matches(inner, r"\bFROM\b")
    aliases: dict[str, str] = {}
    if sel and frm:
        for item in _split_depth0(inner[sel[0].end() : frm[0].start()]):
            am = re.match(r"(?s)^(.*\S)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
            if am:
                aliases[norm(am.group(1))] = am.group(2)
    out = []
    for item in _split_depth0(order_list):
        dm = re.search(
            r"\s+(ASC|DESC)?\s*(NULLS\s+(FIRST|LAST))?\s*$",
            item,
            re.IGNORECASE,
        )
        expr = item[: dm.start()].strip() if dm else item.strip()
        suffix = item[dm.start() :].rstrip() if dm else ""
        if re.fullmatch(r"[\w.]+", expr):
            out.append(expr + suffix)
            continue
        alias = aliases.get(norm(expr))
        if alias is None:
            raise ValueError(
                f"LIMIT BY: ORDER BY expression {expr!r} does not match "
                "any select-list alias — alias it in the select list"
            )
        out.append(alias + suffix)
    return ", ".join(out)


def _rewrite_limit_with_ties(text: str) -> str:
    """CH/ANSI ``ORDER BY keys LIMIT n WITH TIES`` → a threshold
    filter: rows whose sort key is within the n-th row's key, ties
    included. Spark has no WITH TIES; the obvious rank()-window
    rewrite is a GLOBAL window (single reducer — the shape the plan
    lint forbids), so instead the n-th key is computed as
    ``max(struct(keys))`` over an ``ORDER BY keys LIMIT n`` subquery —
    two TakeOrderedAndProject-able branches, no partition-less window.

    Contract: one top-level LIMIT ... WITH TIES with a preceding
    top-level ORDER BY; all key directions uniform (ASC or DESC —
    mixed directions break the struct comparison and fail loudly);
    NULL key values sort out of the comparison (document keys as
    non-null, as the grading queries' keys are)."""
    import re

    ms = _depth0_matches(
        text, r"\bLIMIT\s+(\d+)\s+WITH\s+TIES\b"
    )
    if not ms:
        return text
    if len(ms) > 1:
        raise ValueError("one LIMIT ... WITH TIES per query")
    m = ms[0]
    n = int(m.group(1))
    tail = text[m.end() :].strip()
    if tail:
        raise ValueError(
            f"LIMIT WITH TIES must be the final clause, got {tail!r}"
        )
    obs = [
        o for o in _depth0_matches(text, r"\bORDER\s+BY\b")
        if o.start() < m.start()
    ]
    if not obs:
        raise ValueError("LIMIT WITH TIES requires a top-level ORDER BY")
    ob = obs[-1]
    body = text[: ob.start()].strip()
    keys_txt = text[ob.end() : m.start()].strip()
    keys, dirs = [], []
    for item in _split_depth0(keys_txt):
        km = re.fullmatch(r"(?s)(.*?)\s+(ASC|DESC)\s*", item, re.IGNORECASE)
        if km:
            keys.append(km.group(1).strip())
            dirs.append(km.group(2).upper())
        else:
            keys.append(item.strip())
            dirs.append("ASC")
    if len(set(dirs)) > 1:
        raise ValueError(
            "LIMIT WITH TIES needs uniform ASC/DESC key directions"
        )
    desc = dirs[0] == "DESC"
    keep = _INTERNAL
    kstruct = f"{keep}struct({', '.join(keys)})"
    agg = "min" if desc else "max"
    cmp = ">=" if desc else "<="
    order_full = ", ".join(f"{k} {dirs[0]}" for k in keys)
    thresh = (
        f"(SELECT {keep}{agg}({kstruct}) FROM "
        f"(SELECT * FROM ({body}) AS __wt_i "
        f"ORDER BY {order_full} LIMIT {n}) AS __wt_n)"
    )
    return (
        f"SELECT * FROM ({body}) AS __wt "
        f"WHERE {kstruct} {cmp} {thresh} "
        f"ORDER BY {order_full}"
    )


def _rewrite_limit_by(text: str) -> str:
    """CH ``... ORDER BY o LIMIT n BY keys [LIMIT m]`` → a row_number
    window subquery (the same plan ``functions/dialect.py:limit_by``
    builds: one shuffle on the BY key, no global sort). Top level only;
    requires ORDER BY — CH's physical-order "first n" is
    nondeterministic under distribution, same policy as the helper."""
    import re

    if not _depth0_matches(text, r"\bLIMIT\s+\d+\s+BY\b"):
        # LIMIT BY inside subqueries only (r09, VERDICT r08 missing
        # #6): rewrite each subquery independently — every SELECT gets
        # its own LIMIT BY clause in CH, so per-scope rewriting is the
        # faithful semantics
        lits = _literal_spans(text)
        if any(
            not any(a <= m.start() < b for a, b in lits)
            for m in re.finditer(r"\bLIMIT\s+\d+\s+BY\b", text, re.IGNORECASE)
        ):
            return _map_subqueries(text, _rewrite_limit_by)
        return text
    ms = _depth0_matches(text, r"\bLIMIT\s+(\d+)\s+BY\b")
    if len(ms) > 1:
        raise ValueError("multiple top-level LIMIT BY clauses")
    # rewrite subquery-level LIMIT BYs first so the top-level rewrite
    # embeds already-translated inner text
    text = _map_subqueries(text, _rewrite_limit_by)
    ms = _depth0_matches(text, r"\bLIMIT\s+(\d+)\s+BY\b")
    m = ms[0]
    n = int(m.group(1))
    rest = text[m.end() :]
    tail = _depth0_matches(rest, r"\bLIMIT\s+(\d+)\b")
    if tail:
        by_list = rest[: tail[0].start()].strip().strip(",")
        final_limit = f" LIMIT {int(tail[0].group(1))}"
        if rest[tail[0].end() :].strip():
            raise ValueError("unsupported trailing clause after LIMIT BY ... LIMIT")
    else:
        by_list = rest.strip().strip(",")
        final_limit = ""
    by_list = by_list.strip()
    if by_list.startswith("(") and by_list.endswith(")"):
        by_list = by_list[1:-1].strip()
    base = text[: m.start()]
    mo = _depth0_matches(base, r"\bORDER\s+BY\b")
    if not mo:
        raise ValueError(
            "LIMIT BY requires ORDER BY: ClickHouse's physical-order "
            "semantics are nondeterministic under distribution"
        )
    order_list = base[mo[-1].end() :].strip()
    inner = base[: mo[-1].start()].strip()
    order_list = _resolve_order_aliases(order_list, inner)
    return (
        f"SELECT * EXCEPT (__rn) FROM ("
        f"SELECT __q.*, row_number() OVER ("
        f"PARTITION BY {by_list} ORDER BY {order_list}) AS __rn "
        f"FROM ({inner}) AS __q) AS __lb "
        f"WHERE __rn <= {n} "
        # final ordering/LIMIT follow CH: the trailing LIMIT m applies
        # to the query's ORDER BY stream after per-group capping — do
        # NOT prepend the BY keys or LIMIT m would select by group key
        f"ORDER BY {order_list}{final_limit}"
    )


# ----------------------------- materialized-view DDL bridge (r09)
# CH's standard rollup idiom is a SummingMergeTree/AggregatingMergeTree
# MATERIALIZED VIEW; the engine's analogue is the CDC-maintained
# incremental rollup (sources/replication.py:RollupSpec, r08). This
# parser accepts the CH DDL a reference user holds and yields the
# declarative spec the Replicator maintains — DDL in, IVM out.


class MaterializedViewSpec:
    """Parsed ``CREATE MATERIALIZED VIEW`` — name, source table, group
    keys, the optional summed value column, POPULATE flag."""

    def __init__(
        self,
        name: str,
        source: str,
        group_cols: list[str],
        value_col: str | None,
        populate: bool,
    ) -> None:
        self.name = name
        self.source = source
        self.group_cols = group_cols
        self.value_col = value_col
        self.populate = populate


def parse_materialized_view(ddl: str) -> MaterializedViewSpec:
    """Parse a ClickHouse ``CREATE MATERIALIZED VIEW ... ENGINE =
    SummingMergeTree ... AS SELECT keys, count(), sum(v) FROM t GROUP
    BY keys`` statement into the spec the CDC rollup machinery
    maintains incrementally. Supported aggregate shape = exactly what
    ``RollupSpec`` maintains (count + at most one sum); anything else —
    other engines, joins, HAVING, extra aggregates — fails loudly
    rather than silently approximating the view."""
    import re

    m = re.match(
        r"(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(\w+)\s+(.*?)\bAS\b\s*(SELECT\b.*)$",
        ddl,
    )
    if not m:
        raise ValueError("not a CREATE MATERIALIZED VIEW ... AS SELECT")
    name, head, select = m.group(1), m.group(2), m.group(3)
    em = re.search(r"(?i)\bENGINE\s*=\s*(\w+)", head)
    if not em or em.group(1).lower() not in (
        "summingmergetree",
        "aggregatingmergetree",
    ):
        raise ValueError(
            "materialized view engine must be SummingMergeTree or "
            "AggregatingMergeTree (the maintained-rollup engines)"
        )
    if re.search(r"(?i)\bTO\s+\w+", head):
        raise ValueError("TO <table> materialized views are not supported")
    populate = bool(re.search(r"(?i)\bPOPULATE\b", head))

    sel = _depth0_matches(select, r"\bSELECT\b")
    frm = _depth0_matches(select, r"\bFROM\b")
    gb = _depth0_matches(select, r"\bGROUP\s+BY\b")
    if not sel or not frm or not gb:
        raise ValueError("materialized view query must be SELECT ... FROM ... GROUP BY")
    if _depth0_matches(select, r"\bHAVING\b|\bJOIN\b|\bWHERE\b"):
        raise ValueError(
            "materialized view query must be a plain grouped aggregate "
            "over one table (no JOIN/WHERE/HAVING)"
        )
    source = select[frm[0].end() : gb[0].start()].strip()
    if not re.fullmatch(r"[\w.]+", source):
        raise ValueError(f"materialized view source must be one table: {source!r}")
    keys = [k.strip() for k in _split_depth0(select[gb[0].end() :])]
    for k in keys:
        if not re.fullmatch(r"[\w.]+", k):
            raise ValueError(f"group keys must be simple columns: {k!r}")

    value_col: str | None = None
    for item in _split_depth0(select[sel[0].end() : frm[0].start()]):
        expr = re.sub(r"(?is)\s+AS\s+\w+\s*$", "", item).strip()
        if expr in keys:
            continue
        if re.fullmatch(r"(?is)count\s*\(\s*\*?\s*\)", expr):
            continue
        sm = re.fullmatch(r"(?is)sum\s*\(\s*([\w.]+)\s*\)", expr)
        if sm:
            if value_col is not None:
                raise ValueError(
                    "RollupSpec maintains at most one summed column"
                )
            value_col = sm.group(1)
            continue
        raise ValueError(
            f"unsupported materialized-view aggregate: {expr!r} — the "
            "maintained shape is group keys + count() + at most one sum()"
        )
    return MaterializedViewSpec(name, source, keys, value_col, populate)


@dataclass(frozen=True)
class TableLayoutSpec:
    """A CH ``CREATE TABLE ... ENGINE = MergeTree`` statement's layout
    clauses as a declarative lake policy (r13 — VERDICT r12 missing
    #3): PARTITION BY becomes a hive partition column, ORDER BY the
    within-file sort tuple. The data-migrator documents exactly these
    ordering-key assumptions (reference
    ``src/prompts/data_migrator.py:36``); this carries them to the
    write path instead of leaving layout a per-query choice."""

    table: str
    engine: str
    order_by: list[str]
    partition_by: str | None  # raw CH expr, e.g. toYYYYMM(o_orderdate)
    partition_col: str | None  # derived hive column name
    partition_spark: str | None  # Spark SQL expr producing it
    # PARTITION BY decomposition (r14, for TTL partition-pruned expiry)
    partition_func: str | None = None  # lowercased CH fn, None=identity
    partition_src: str | None = None  # the source column inside it
    # table-level `TTL col + INTERVAL n unit [DELETE]` (r14, VERDICT #6)
    ttl_col: str | None = None
    ttl_value: int | None = None
    ttl_unit: str | None = None  # DAY | WEEK | MONTH | YEAR


# PARTITION BY expressions the bridge understands → (column-name
# suffix, Spark expr template). CH allows arbitrary expressions; the
# lake layout needs a hive-partitionable value, so anything outside
# this table fails loudly rather than inventing a layout.
_PARTITION_FUNCS = {
    "toyyyymm": ("yyyymm", "CAST(date_format({c}, 'yyyyMM') AS INT)"),
    "toyyyymmdd": ("yyyymmdd", "CAST(date_format({c}, 'yyyyMMdd') AS INT)"),
    "tostartofmonth": ("month", "to_date(date_trunc('MONTH', {c}))"),
    "toyear": ("year", "year({c})"),
    "tomonday": ("week", "to_date(date_trunc('WEEK', {c}))"),
}


def parse_merge_tree_ddl(ddl: str) -> TableLayoutSpec:
    """Parse ``CREATE TABLE name (...) ENGINE = MergeTree()
    [PARTITION BY expr] ORDER BY (cols...)`` into a
    :class:`TableLayoutSpec`. Only the layout clauses are read — the
    column list is the catalog's concern. Non-MergeTree engines,
    expression ORDER BY items, and unrecognized PARTITION BY
    expressions fail loudly."""
    import re

    m = re.match(
        r"(?is)\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*",
        ddl,
    )
    if not m:
        raise ValueError("not a CREATE TABLE statement")
    table = m.group(1).split(".")[-1]
    em = re.search(r"(?i)\bENGINE\s*=\s*(\w+)", ddl)
    if not em or "mergetree" not in em.group(1).lower():
        raise ValueError(
            "layout bridge reads *MergeTree engines only "
            f"(got {em.group(1) if em else None!r})"
        )
    engine = em.group(1)
    om = re.search(r"(?is)\bORDER\s+BY\s*(\(([^)]*)\)|[\w.]+)", ddl)
    if not om:
        raise ValueError("MergeTree DDL has no ORDER BY tuple")
    raw_keys = om.group(2) if om.group(2) is not None else om.group(1)
    order_by = [k.strip() for k in raw_keys.split(",") if k.strip()]
    for k in order_by:
        if not re.fullmatch(r"[\w.]+", k):
            raise ValueError(
                f"ORDER BY items must be simple columns (got {k!r}) — "
                "expression keys have no lake sort analogue here"
            )
    pm = re.search(
        r"(?is)\bPARTITION\s+BY\s*((\w+)\s*\(\s*([\w.]+)\s*\)|[\w.]+)", ddl
    )
    partition_by = partition_col = partition_spark = None
    partition_func = partition_src = None
    if pm:
        partition_by = pm.group(1).strip()
        if pm.group(2) is not None:
            fn, col = pm.group(2).lower(), pm.group(3)
            if fn not in _PARTITION_FUNCS:
                raise ValueError(
                    f"unsupported PARTITION BY function {pm.group(2)!r} "
                    f"(supported: {sorted(_PARTITION_FUNCS)})"
                )
            suffix, tmpl = _PARTITION_FUNCS[fn]
            partition_col = f"{col.split('.')[-1]}_{suffix}"
            partition_spark = tmpl.format(c=col)
            partition_func = fn
            partition_src = col.split(".")[-1]
        else:
            partition_col = partition_by.split(".")[-1]
            partition_spark = partition_by
            partition_src = partition_col

    # Table-level TTL (r14, VERDICT #6): the bounded retention grammar
    # `TTL col + INTERVAL n unit [DELETE]`. The clause sits AFTER
    # ORDER BY (a column-level TTL inside the column list is never
    # scanned — the search starts past the ORDER BY match). Every
    # other TTL shape (TO DISK/VOLUME tiering, WHERE, GROUP BY
    # rollup-TTL, multiple clauses, per-column) is a loud failure —
    # pretending to honor a retention policy is worse than refusing.
    ttl_col = ttl_value = ttl_unit = None
    tail = ddl[om.end():]
    tm = re.search(r"(?is)\bTTL\b", tail)
    if tm:
        clause = tail[tm.end():]
        sm = re.search(r"(?is)\bSETTINGS\b", clause)
        if sm:
            clause = clause[: sm.start()]
        gm = re.fullmatch(
            r"(?is)\s*([\w.]+)\s*\+\s*INTERVAL\s+(\d+)\s+"
            r"(DAY|WEEK|MONTH|YEAR)S?\s*(DELETE\s*)?",
            clause,
        )
        if gm is None:
            raise ValueError(
                "unsupported TTL clause — only `TTL col + INTERVAL n "
                "DAY|WEEK|MONTH|YEAR [DELETE]` maps to a retention "
                f"policy here (got {clause.strip()[:80]!r})"
            )
        ttl_col = gm.group(1).split(".")[-1]
        ttl_value = int(gm.group(2))
        ttl_unit = gm.group(3).upper()
    return TableLayoutSpec(
        table=table,
        engine=engine,
        order_by=order_by,
        partition_by=partition_by,
        partition_col=partition_col,
        partition_spark=partition_spark,
        partition_func=partition_func,
        partition_src=partition_src,
        ttl_col=ttl_col,
        ttl_value=ttl_value,
        ttl_unit=ttl_unit,
    )


def translate_ch_sql(text: str) -> str:
    """Rewrite a ClickHouse-dialect SQL string to Spark SQL.

    ``{name:Type}`` parameter placeholders (the CH client binding style,
    ``corpus/orm_none.txt:432-438``) become Spark named markers
    ``:name`` — bind values via ``spark.sql(..., args={...})``.
    Clause-level CH syntax Spark lacks rewrites structurally first:
    ``SAMPLE k/n [OFFSET m/n]`` (hash-band subquery), ``FROM t FINAL``
    (latest-per-key subquery per REPLACING_KEYS), ``[LEFT] ARRAY JOIN``
    (LATERAL VIEW explode), ``PREWHERE`` (WHERE conjunction),
    ``GROUP BY ... WITH TOTALS`` (GROUPING SETS), top-level
    ``LIMIT n BY keys`` (row_number window subquery) and
    ``ORDER BY k WITH FILL FROM a TO b [STEP s]`` (dense-grid FULL
    OUTER JOIN, numeric contract — see ``_rewrite_with_fill``).
    """
    import re

    text = re.sub(r"\{\s*(\w+)\s*:\s*[A-Za-z0-9() ]+\}", r":\1", text)
    text = _strip_settings_and_global(text)
    text = _rewrite_with_fill(text)
    text = _rewrite_final(text)
    text = _rewrite_asof_join(text)
    text = _rewrite_any_join(text)
    text = _rewrite_sample_clause(text)
    text = _rewrite_array_join(text)
    text = _rewrite_prewhere(text)
    text = _rewrite_with_totals(text)
    text = _rewrite_topk(text)
    text = _rewrite_limit_with_ties(text)
    text = _rewrite_limit_by(text)
    return _rewrite(_rewrite_brackets(text)).replace(_INTERNAL, "")


def run_ch_sql(spark, text: str, params: dict[str, Any] | None = None):
    """Translate + execute a ClickHouse-dialect query."""
    sql = translate_ch_sql(text)
    return spark.sql(sql, args=params) if params else spark.sql(sql)


# ------------------------------------------------- Postgres dialect side

# PG type name → Spark SQL type for `expr::type` casts. `numeric` maps
# to DOUBLE by engine policy — the same analytical coercion the corpus
# applies with toFloat64 on the CH side (SURVEY F4) and parseFloat at
# the app edge (F9).
PG_TYPES = {
    "int2": "SMALLINT",
    "int4": "INT",
    "int8": "BIGINT",
    "integer": "INT",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "float4": "FLOAT",
    "float8": "DOUBLE",
    "real": "FLOAT",
    "numeric": "DOUBLE",
    "decimal": "DOUBLE",
    "text": "STRING",
    "varchar": "STRING",
    "char": "STRING",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamptz": "TIMESTAMP",
    "bool": "BOOLEAN",
    "boolean": "BOOLEAN",
    # JSON stays text on the Spark side; the JSON operators
    # (->/->>/@>) parse where they need structure (r13)
    "json": "STRING",
    "jsonb": "STRING",
}


def _sql_str(s: str) -> str:
    """A Python string as a Spark SQL single-quoted literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _json_path_part(key: str | None, idx: str | None) -> str:
    """One JSON-path step: ``.key`` for word keys, ``['key']`` for
    keys with specials, ``[N]`` for array indexes (0-based in both PG
    and the JsonPath engines)."""
    import re

    if key is not None:
        if re.fullmatch(r"\w+", key):
            return f".{key}"
        if "'" in key:
            # a quote inside the bracket-quoted step would corrupt the
            # JsonPath literal — refuse instead of silently mis-pathing
            raise ValueError(f"JSON key with a quote is not pathable: {key!r}")
        return f"['{key}']"
    return f"[{idx}]"


def _pg_jsonb_contains(lhs: str, rhs_literal: str) -> str:
    """PG jsonb containment ``lhs @> 'literal'`` expanded at translate
    time to a conjunction of per-path checks over Spark's VARIANT
    reader (``try_variant_get``), so the whole predicate stays inside
    codegen with no UDF. Faithful to jsonb semantics for the app-query
    shape: a literal RHS object whose values are scalars, nested
    objects, or arrays of scalars (array containment = every RHS
    element present in the LHS array; numbers compare numerically, so
    5 matches 5.0 exactly as jsonb does). A non-object RHS or an array
    of non-scalars is a loud translate-time failure — never a silent
    wrong answer.

    Reference parity: the reference's PG arm ships such predicates to
    Postgres verbatim (src/tools/scanner grammar); here they must
    execute on Spark.
    """
    import json

    try:
        obj = json.loads(rhs_literal.replace("''", "'"))
    except ValueError as e:
        raise ValueError(f"@>: RHS is not valid JSON: {e}") from None
    if not isinstance(obj, dict):
        raise ValueError(
            "@>: only a literal JSON OBJECT right-hand side is "
            "supported (top-level arrays/scalars are not app-query "
            "shapes; write the predicate explicitly)"
        )
    pj = f"parse_json({lhs})"
    conds: list[str] = []

    def walk(path: str, v) -> None:
        vg = f"try_variant_get({pj}, {_sql_str(path)}, 'variant')"
        if isinstance(v, dict):
            if not v:
                # {} is contained in any object at this path
                conds.append(f"startswith(to_json({vg}), '{{')")
                return
            for k, sub in v.items():
                walk(path + _json_path_part(k, None), sub)
        elif isinstance(v, list):
            if not v:
                # [] is contained in any ARRAY at this path (and in
                # nothing else) — hypothesis-found edge (r13c): zero
                # element conditions would emit an empty conjunction
                conds.append(f"startswith(to_json({vg}), '[')")
                return
            # TYPE-STRICT element checks via the JSON text of each
            # variant element (r13c, hypothesis-found): a plain typed
            # CAST of the whole array threw at runtime on non-array
            # values and coerced "5" == 5 across types — try_cast to
            # ARRAY<VARIANT> is NULL-on-mismatch and per-element
            # to_json keeps strings quoted (so '"5"' never equals the
            # number 5, exactly jsonb).
            arr = f"try_cast({vg} AS ARRAY<VARIANT>)"
            for e in v:
                if isinstance(e, bool):
                    conds.append(
                        f"exists({arr}, __ce -> to_json(__ce) = "
                        f"'{str(e).lower()}')"
                    )
                elif isinstance(e, str):
                    conds.append(
                        f"exists({arr}, __ce -> to_json(__ce) = "
                        f"{_sql_str(json.dumps(e, ensure_ascii=False))})"
                    )
                elif isinstance(e, (int, float)):
                    conds.append(
                        f"exists({arr}, __ce -> "
                        f"try_cast(to_json(__ce) AS DOUBLE) = "
                        f"CAST({e} AS DOUBLE))"
                    )
                elif e is None:
                    conds.append(
                        f"exists({arr}, __ce -> to_json(__ce) = 'null')"
                    )
                else:
                    raise ValueError(
                        "@>: array elements in the RHS must be scalars"
                    )
        elif isinstance(v, bool):
            conds.append(f"to_json({vg}) = '{str(v).lower()}'")
        elif v is None:
            conds.append(f"to_json({vg}) = 'null'")
        elif isinstance(v, str):
            conds.append(
                f"to_json({vg}) = "
                f"{_sql_str(json.dumps(v, ensure_ascii=False))}"
            )
        else:  # number: jsonb compares numerically (5 contains 5.0)
            conds.append(
                f"try_cast(to_json({vg}) AS DOUBLE) = CAST({v} AS DOUBLE)"
            )

    # NULL-safe: a missing key makes its check NULL (to_json of a
    # missing variant is SQL NULL) — jsonb containment is two-valued,
    # so the whole predicate collapses NULL → false (r13c,
    # hypothesis-found on a missing-key empty-array probe).
    if not obj:
        return f"coalesce(startswith(to_json({pj}), '{{'), false)"
    walk("$", obj)
    return "coalesce((" + " AND ".join(conds) + "), false)"


# Maximum compiled depth for jsonpath .** recursive descent (r17):
# each level is one nested flatten/transform layer, so the expansion
# is a fixed-depth union over the VARIANT reader. Bare .** guards the
# bound with a runtime raise_error; explicit deeper ranges are loud at
# translate time.
_JP_DESC_MAX = 3


def _parse_jsonpath(path: str):
    """Parse the bounded SQL/JSONPath subset the app-query shapes use
    into step tuples: ``('member', key)``, ``('index', n)``,
    ``('index_last', k)`` (``[last - k]``, r16), ``('slice', lo, hi)``
    (``[a to b]`` inclusive, bounds int or last-k, r16), ``('wild',)``,
    ``('filter', pred)``. Predicates are
    ``('or'|'and', [..])``, ``('not', p)``, ``('exists', relsteps)``
    or ``('cmp', relsteps, op, kind, value)``. Anything outside the
    subset (strict mode, ``.**``, multi-subscripts, item methods other
    than terminal ``.double()``/``.size()``/``.type()``) is a loud
    translate-time failure — never a silent wrong answer. Lax-mode
    semantics (the PG default) are compiled: wildcard unwraps arrays
    and auto-wraps scalars, structural errors drop the item,
    ``.double()`` unwraps arrays then drops non-convertible items
    (where PG raises a type error — the one documented deviation).
    """
    import re

    s = path.strip()
    m = re.match(r"^(?:(lax|strict)\s+)?\$", s, re.IGNORECASE)
    if m is None:
        raise ValueError(f"jsonpath must start with '$': {path!r}")
    # r17: strict mode compiles too — the error-raising semantics map
    # onto RUNTIME raise_error branches (structural mismatches raise
    # exactly where PG's executor would; filter predicates stay
    # error-suppressing, as PG defines them in BOTH modes). The parse
    # returns (strict, steps).
    strict = bool(m.group(1)) and m.group(1).lower() == "strict"
    i = m.end()
    steps: list = []
    while i < len(s):
        if s[i].isspace():
            i += 1
            continue
        if s[i] == ".":
            dm = re.match(
                r"\.\s*\*\*(?:\s*\{\s*([^}]*?)\s*\})?", s[i:]
            )
            if dm is not None:
                # r17 (VERDICT r16 #9): .** recursive descent,
                # bounded. .**{n} / .**{a to b} compile exactly for
                # bounds <= _JP_DESC_MAX; bare .** compiles the
                # 0.._JP_DESC_MAX expansion with a RUNTIME raise_error
                # guard when deeper structure exists — never a silent
                # truncation. 'last' bounds stay loud (unbounded).
                spec = dm.group(1)
                if spec is None:
                    steps.append(("descend", 0, _JP_DESC_MAX, True))
                else:
                    bm = re.fullmatch(
                        r"(\d+)(?:\s+to\s+(\d+))?", spec
                    )
                    if bm is None:
                        raise ValueError(
                            f"unsupported jsonpath .** level spec "
                            f"{{{spec}}} (a literal level or 'a to b' "
                            "range only — 'last' is unbounded)"
                        )
                    lo_, hi_ = int(bm.group(1)), int(
                        bm.group(2) or bm.group(1)
                    )
                    if hi_ < lo_:
                        raise ValueError(
                            f"jsonpath .**{{{spec}}}: empty level "
                            "range"
                        )
                    if hi_ > _JP_DESC_MAX:
                        raise ValueError(
                            f"jsonpath .**{{{spec}}} exceeds the "
                            f"translated depth bound "
                            f"({_JP_DESC_MAX}) — deeper recursive "
                            "descent has no bounded compile"
                        )
                    steps.append(("descend", lo_, hi_, False))
                i += dm.end()
                continue
            wm = re.match(r"\.\s*\*(?!\*)", s[i:])
            if wm is not None:
                # r16: the .* member wildcard (all values of each
                # object; lax auto-unwraps arrays first, non-objects
                # drop). .** (recursive descent) stays loud.
                steps.append(("wildmember",))
                i += wm.end()
                continue
            mm = re.match(r"\.\s*([A-Za-z_]\w*)", s[i:])
            if mm is None:
                qm = re.match(r'\.\s*"((?:[^"\\]|\\.)*)"', s[i:])
                if qm is not None:
                    import json as _json

                    # quoted member: JSON-decode so \" and \\ escapes
                    # become the real key characters
                    steps.append(
                        ("member", _json.loads('"' + qm.group(1) + '"'))
                    )
                    i += qm.end()
                    continue
            if mm is None:
                raise ValueError(
                    f"unsupported jsonpath member step at {s[i:]!r} "
                    "(.** recursive descent is outside the translated "
                    "subset)"
                )
            name = mm.group(1)
            if name.lower() in ("type", "size", "double", "ceiling",
                                "floor", "abs", "keyvalue", "datetime"):
                # method-call names only when followed by '()'
                cm = re.match(r"\s*\(\s*\)", s[i + mm.end():])
                if cm is not None:
                    lo = name.lower()
                    if lo not in ("double", "size", "type"):
                        raise ValueError(
                            f"jsonpath item method .{name}() is not "
                            "translatable (.double()/.size()/.type() "
                            "are the supported subset)"
                        )
                    steps.append(("method", lo))
                    i += mm.end() + cm.end()
                    rest = s[i:].strip()
                    if rest:
                        raise ValueError(
                            f"jsonpath item method .{lo}() must be the "
                            f"final step (trailing {rest!r})"
                        )
                    continue
                if re.match(r"\s*\(", s[i + mm.end():]):
                    raise ValueError(
                        f"jsonpath item method .{name}(...) with "
                        "arguments is not translatable"
                    )
            steps.append(("member", name))
            i += mm.end()
        elif s[i] == "[":
            mm = re.match(r"\[\s*\*\s*\]", s[i:])
            if mm is not None:
                steps.append(("wild",))
                i += mm.end()
                continue
            mm = re.match(r"\[\s*(\d+)\s*\]", s[i:])
            if mm is not None:
                steps.append(("index", int(mm.group(1))))
                i += mm.end()
                continue
            # r16 (VERDICT #4): [last], [last - k], and inclusive
            # slices [a to b] with int or last-k bounds. Multi-
            # subscripts ([1, 3]) stay loud.
            mm = re.match(r"\[\s*([^\]]*?)\s*\]", s[i:])
            inner = mm.group(1) if mm is not None else ""

            def _bound(txt: str):
                bm = re.fullmatch(r"last(?:\s*-\s*(\d+))?", txt)
                if bm is not None:
                    return ("last", int(bm.group(1) or 0))
                bm = re.fullmatch(r"\d+", txt)
                if bm is not None:
                    return ("abs", int(txt))
                raise ValueError(
                    f"unsupported jsonpath subscript bound {txt!r} "
                    "(int, 'last', or 'last - k' only)"
                )

            if mm is None or "," in inner:
                raise ValueError(
                    f"unsupported jsonpath subscript at {s[i:]!r} "
                    "([N], [*], [last], [last - k], and [a to b] are "
                    "translated — no multi-subscripts)"
                )
            tom = re.fullmatch(r"(.+?)\s+to\s+(.+)", inner)
            if tom is not None:
                steps.append(
                    ("slice", _bound(tom.group(1)), _bound(tom.group(2)))
                )
            else:
                b = _bound(inner)
                if b[0] == "abs":
                    steps.append(("index", b[1]))
                else:
                    steps.append(("index_last", b[1]))
            i += mm.end()
        elif s[i] == "?":
            mm = re.match(r"\?\s*\(", s[i:])
            if mm is None:
                raise ValueError(f"malformed jsonpath filter at {s[i:]!r}")
            op = i + mm.end() - 1
            depth, j = 0, op
            while j < len(s):
                if s[j] == '"':
                    j += 1
                    while j < len(s) and s[j] != '"':
                        j += 2 if s[j] == "\\" else 1
                elif s[j] == "(":
                    depth += 1
                elif s[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise ValueError(f"unbalanced jsonpath filter: {path!r}")
            steps.append(("filter", _parse_jsonpath_pred(s[op + 1 : j], "@")))
            i = j + 1
        else:
            raise ValueError(f"unsupported jsonpath syntax at {s[i:]!r}")
    return strict, steps


def _parse_jsonpath_pred(src: str, root: str):
    """Recursive-descent parser for the filter-predicate subset:
    ``@.k.l OP literal``, ``exists(@.k)``, ``!(...)``, ``&&``/``||``
    and parens. ``root`` is '@' inside filters, '$' for
    jsonb_path_match predicate paths."""
    import re

    pos = [0]
    n = len(src)

    def ws():
        while pos[0] < n and src[pos[0]].isspace():
            pos[0] += 1

    def rel_steps():
        # root already consumed
        out = []
        while pos[0] < n:
            ws()
            mm = re.match(r"\.\s*([A-Za-z_]\w*)", src[pos[0]:])
            if mm is not None:
                out.append(("member", mm.group(1)))
                pos[0] += mm.end()
                continue
            mm = re.match(r'\.\s*"((?:[^"\\]|\\.)*)"', src[pos[0]:])
            if mm is not None:
                import json as _json

                out.append(("member", _json.loads('"' + mm.group(1) + '"')))
                pos[0] += mm.end()
                continue
            mm = re.match(r"\[\s*(\d+)\s*\]", src[pos[0]:])
            if mm is not None:
                out.append(("index", int(mm.group(1))))
                pos[0] += mm.end()
                continue
            break
        return out

    def literal():
        ws()
        rest = src[pos[0]:]
        mm = re.match(r'"((?:[^"\\]|\\.)*)"', rest)
        if mm is not None:
            pos[0] += mm.end()
            import json as _json

            try:
                return ("str", _json.loads('"' + mm.group(1) + '"'))
            except ValueError:
                raise ValueError(
                    "invalid escape in jsonpath string literal "
                    f'"{mm.group(1)}" — backslashes must be doubled '
                    r'(like_regex "\\d+", the PG rule)'
                )
        mm = re.match(r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?", rest)
        if mm is not None:
            pos[0] += mm.end()
            return ("num", float(mm.group(0)))
        mm = re.match(r"(true|false|null)\b", rest)
        if mm is not None:
            pos[0] += mm.end()
            return (mm.group(1), None)
        raise ValueError(
            f"unsupported jsonpath literal at {rest!r} (strings use "
            'double quotes: @.tag == "a")'
        )

    def atom():
        ws()
        if src[pos[0]:].startswith("!"):
            pos[0] += 1
            ws()
            if pos[0] >= n or src[pos[0]] != "(":
                raise ValueError("jsonpath ! needs a parenthesized operand")
            return ("not", atom())
        if src[pos[0]:].startswith("("):
            pos[0] += 1
            p = or_expr()
            ws()
            if pos[0] >= n or src[pos[0]] != ")":
                raise ValueError(f"unbalanced parens in jsonpath pred: {src!r}")
            pos[0] += 1
            return p
        mm = re.match(r"exists\s*\(", src[pos[0]:], re.IGNORECASE)
        if mm is not None:
            pos[0] += mm.end()
            ws()
            if not src[pos[0]:].startswith(root):
                raise ValueError(f"exists() needs a {root}-relative path")
            pos[0] += len(root)
            rs = rel_steps()
            ws()
            if pos[0] >= n or src[pos[0]] != ")":
                raise ValueError("unbalanced exists() in jsonpath pred")
            pos[0] += 1
            return ("exists", rs)
        if not src[pos[0]:].startswith(root):
            raise ValueError(
                f"jsonpath predicate atom must start with {root!r} or "
                f"exists(: {src[pos[0]:]!r}"
            )
        pos[0] += len(root)
        rs = rel_steps()
        ws()
        lrm = re.match(r"like_regex\b\s*", src[pos[0]:], re.IGNORECASE)
        if lrm is not None:
            # r15 (VERDICT #4): literal-pattern like_regex → RLIKE on
            # the variant-string cast. PG's XQuery regex flavor and
            # Java's agree on the literal-pattern subset. Flags i/s/m
            # map to Java's embedded (?i)(?s)(?m); q quotes the whole
            # pattern literally (\Q...\E); x and other flags stay loud
            # (XQuery 'x' whitespace rules differ from Java's
            # COMMENTS mode inside classes).
            pos[0] += lrm.end()
            kind, val = literal()
            if kind != "str":
                raise ValueError(
                    "like_regex pattern must be a double-quoted string "
                    "literal"
                )
            ws()
            fm = re.match(r"flag\b\s*", src[pos[0]:], re.IGNORECASE)
            if fm is not None:
                pos[0] += fm.end()
                fkind, flags = literal()
                if fkind != "str":
                    raise ValueError(
                        "like_regex flag must be a double-quoted "
                        "string literal"
                    )
                bad = set(flags) - set("ismq")
                if bad:
                    raise ValueError(
                        f"like_regex flag(s) {sorted(bad)} are not "
                        "translatable (i/s/m/q map to Java embedded "
                        "flags; XQuery 'x' has no exact RLIKE twin)"
                    )
                if "q" in flags:
                    # q: remaining chars are literals; i still
                    # applies. A literal "\E" inside the pattern
                    # would terminate Java's \Q...\E quote early —
                    # split exactly as java.util.regex.Pattern.quote
                    # does (end quote, match \ and E, reopen quote).
                    val = (
                        "\\Q"
                        + val.replace("\\E", "\\E\\\\E\\Q")
                        + "\\E"
                    )
                emb = "".join(c for c in "ism" if c in flags)
                if emb:
                    val = f"(?{emb})" + val
            return ("like_regex", rs, val)
        swm = re.match(r"starts\s+with\b\s*", src[pos[0]:], re.IGNORECASE)
        if swm is not None:
            pos[0] += swm.end()
            kind, val = literal()
            if kind != "str":
                raise ValueError(
                    "starts with needs a double-quoted string literal"
                )
            return ("starts", rs, val)
        mm = re.match(r"==|!=|<>|<=|>=|<|>", src[pos[0]:])
        if mm is None:
            raise ValueError(
                f"jsonpath comparison operator expected at "
                f"{src[pos[0]:]!r}"
            )
        op = "!=" if mm.group(0) == "<>" else mm.group(0)
        pos[0] += mm.end()
        kind, val = literal()
        if op in ("<", "<=", ">", ">=") and kind != "num":
            raise ValueError(
                "jsonpath ordering comparisons are translated for "
                "numeric literals only"
            )
        return ("cmp", rs, op, kind, val)

    def and_expr():
        parts = [atom()]
        while True:
            ws()
            if src[pos[0]:].startswith("&&"):
                pos[0] += 2
                parts.append(atom())
            else:
                break
        return parts[0] if len(parts) == 1 else ("and", parts)

    def or_expr():
        parts = [and_expr()]
        while True:
            ws()
            if src[pos[0]:].startswith("||"):
                pos[0] += 2
                parts.append(and_expr())
            else:
                break
        return parts[0] if len(parts) == 1 else ("or", parts)

    p = or_expr()
    ws()
    if pos[0] != n:
        raise ValueError(f"trailing jsonpath predicate text: {src[pos[0]:]!r}")
    return p


def _jsonpath_rel_vg(var: str, rel_steps: list) -> str:
    """``try_variant_get`` chain for an @-relative member/index path
    inside a filter lambda (one composed JsonPath — no wildcards in
    relative paths, enforced at parse time)."""
    if not rel_steps:
        return var
    parts = []
    for kind, *rest in rel_steps:
        parts.append(
            _json_path_part(rest[0], None)
            if kind == "member"
            else _json_path_part(None, str(rest[0]))
        )
    return f"try_variant_get({var}, {_sql_str('$' + ''.join(parts))}, 'variant')"


def _jsonpath_pred_sql(var: str, pred) -> str:
    """Compile a filter predicate over lambda variable ``var`` (a
    VARIANT). SQL three-valued logic mirrors jsonpath Unknown: a
    missing operand makes the comparison NULL, and the caller's
    ``coalesce(..., false)`` drops the item — exactly lax-mode
    filter semantics."""
    import json as _json

    kind = pred[0]
    if kind == "or":
        return "(" + " OR ".join(_jsonpath_pred_sql(var, p) for p in pred[1]) + ")"
    if kind == "and":
        return "(" + " AND ".join(_jsonpath_pred_sql(var, p) for p in pred[1]) + ")"
    if kind == "not":
        return f"(NOT {_jsonpath_pred_sql(var, pred[1])})"
    if kind == "exists":
        return f"({_jsonpath_rel_vg(var, pred[1])} IS NOT NULL)"
    if kind == "like_regex":
        _, rs, pat = pred
        vg = _jsonpath_rel_vg(var, rs)
        tj = f"to_json({vg})"
        # string-typed guard first: try_cast(variant AS STRING) also
        # stringifies numbers/arrays, which must stay Unknown here
        return (
            f"(startswith({tj}, '\"') AND "
            f"try_cast({vg} AS STRING) RLIKE {_sql_str(pat)})"
        )
    if kind == "starts":
        _, rs, lit = pred
        vg = _jsonpath_rel_vg(var, rs)
        tj = f"to_json({vg})"
        return (
            f"(startswith({tj}, '\"') AND "
            f"startswith(try_cast({vg} AS STRING), {_sql_str(lit)}))"
        )
    _, rs, op, lkind, val = pred
    vg = _jsonpath_rel_vg(var, rs)
    tj = f"to_json({vg})"
    if lkind == "num":
        sql_op = "=" if op == "==" else op
        return f"(try_cast({tj} AS DOUBLE) {sql_op} CAST({val} AS DOUBLE))"
    if lkind == "str":
        lit = _sql_str(_json.dumps(val, ensure_ascii=False))
        if op == "==":
            return f"({tj} = {lit})"
        # != across types is Unknown in jsonpath — type-guard so a
        # number never satisfies a string inequality
        return f"(startswith({tj}, '\"') AND {tj} != {lit})"
    if lkind in ("true", "false"):
        if op == "==":
            return f"({tj} = '{lkind}')"
        return f"({tj} IN ('true', 'false') AND {tj} != '{lkind}')"
    # null literal: == null is true exactly for a present JSON null
    if op == "==":
        return f"({tj} = 'null')"
    return f"({tj} != 'null')"


def _jsonb_new_value(arg: str, fn: str) -> str:
    """A ``jsonb_set``/``jsonb_insert`` new-value argument → Spark
    variant expression. Literal ``'<json>'`` (optionally ``::jsonb``)
    only — a dynamic value can't be validated at translate time and
    stays loud (r15, the mutation-family contract)."""
    import json as _json
    import re

    vm = re.fullmatch(r"\s*'((?:[^']|'')*)'(\s*::\s*jsonb?\b)?\s*", arg)
    if vm is None:
        raise ValueError(
            f"{fn}: the new value must be a literal '<json>' string "
            f"(optionally ::jsonb) — dynamic values are not "
            f"translatable: {arg[:60]!r}"
        )
    raw = vm.group(1).replace("''", "'")
    try:
        _json.loads(raw)
    except ValueError:
        raise ValueError(f"{fn}: new value is not valid JSON: {raw[:60]!r}")
    return f"parse_json({_sql_str(raw)})"


def _jsonb_mut_path(arg: str, fn: str, max_depth: int = 2) -> list:
    """A literal ``'{a,b,0}'`` text[] path → step list of str keys /
    int indexes, bounded to ``max_depth`` (deeper or dynamic paths are
    loud; negative array indexes too)."""
    import re

    pm = re.fullmatch(
        r"\s*'\{([^}']*)\}'(\s*::\s*text\s*\[\s*\])?\s*", arg
    )
    if pm is None:
        raise ValueError(
            f"{fn}: the path must be a literal '{{a,b,...}}' text "
            f"array: {arg[:60]!r}"
        )
    parts: list = []
    for p in pm.group(1).split(","):
        p = p.strip().strip('"')
        if not p:
            continue
        if re.fullmatch(r"-\d+", p):
            raise ValueError(
                f"{fn}: negative array indexes are not translatable"
            )
        parts.append(int(p) if p.isdigit() else p)
    if not parts or len(parts) > max_depth:
        raise ValueError(
            f"{fn}: only paths of depth 1-{max_depth} are translatable "
            f"(got {len(parts)} steps)"
        )
    return parts


def _jsonb_obj_set(mv: str, key: str, val: str, ctr) -> str:
    """Rebuild a MAP<STRING,VARIANT> expr with ``key`` set to variant
    expr ``val`` (replace-or-append)."""
    a = f"__mu{next(ctr)}k"
    b = f"__mu{next(ctr)}v"
    return (
        f"map_concat(map_filter({mv}, ({a}, {b}) -> "
        f"{a} != {_sql_str(key)}), map({_sql_str(key)}, {val}))"
    )


def _jsonb_arr_insert(av: str, idx: int, val: str) -> str:
    """Rebuild an ARRAY<VARIANT> expr with ``val`` inserted at 0-based
    ``idx`` (past-the-end appends, exactly PG jsonb_insert)."""
    return (
        f"concat(slice({av}, 1, {idx}), array({val}), "
        f"slice({av}, {idx + 1}, greatest(size({av}) - {idx}, 0)))"
    )


def _jsonb_arr_delete(av: str, idx: int) -> str:
    """Rebuild an ARRAY<VARIANT> expr with the element at 0-based
    ``idx`` removed (out-of-range leaves the array unchanged)."""
    return (
        f"concat(slice({av}, 1, {idx}), "
        f"slice({av}, {idx + 2}, greatest(size({av}) - {idx} - 1, 0)))"
    )


def _jsonb_mutation_sql(
    kind: str, operand: str, parts: list, val: str | None, ctr,
    create: bool = True, after: bool = False,
    digit_as_index: bool = False,
) -> str:
    """Compile one jsonb mutation (r15, VERDICT #5 — ``jsonb_set`` /
    ``jsonb_insert`` / ``- 'key'`` / ``- N`` / ``#- '{path}'``) over a
    jsonb-text ``operand`` into a Spark SQL expression producing the
    mutated JSON TEXT, via VARIANT → map/array rebuild → ``to_json``.

    Documented deviations from PG (all value-visible, none silent
    corruption): key order in the rebuilt text is insertion order, not
    PG's jsonb canonical order (extract mutated fields rather than
    hash whole texts across engines); PG raises on a non-object/array
    target or an existing ``jsonb_insert`` key — here the target
    passes through unchanged (the lax-drop discipline the jsonpath
    compiler uses)."""
    # PG path semantics (r16, ADVICE): a digit segment in a text[]
    # path addresses an object KEY when that step's target is an
    # object and an array INDEX when it is an array —
    # jsonb_set('{"0":1}','{0}','2') sets key "0", no error. Dispatch
    # at runtime on the target's parsed type: compile both the
    # key-form and the index-form and pick per row. (`- N` / `- 'k'`
    # stay typed: PG's minus operators dispatch on the RHS type, not
    # the document.)
    if kind in ("set", "insert", "del_path") and not digit_as_index:
        di = next(
            (i for i, p in enumerate(parts) if isinstance(p, int)), None
        )
        if di is not None and len(parts) == di + 1:
            str_parts = list(parts)
            str_parts[di] = str(parts[di])
            as_key = _jsonb_mutation_sql(
                kind, operand, str_parts, val, ctr, create, after
            )
            as_idx = _jsonb_mutation_sql(
                kind, operand, parts, val, ctr, create, after,
                digit_as_index=True,
            )
            if di == 0:
                probe = f"try_parse_json({operand})"
            else:
                probe = (
                    f"try_variant_get(try_parse_json({operand}), "
                    f"{_sql_str('$' + _json_path_part(parts[0], None))}, "
                    f"'variant')"
                )
            return (
                f"CASE WHEN try_cast({probe} AS MAP<STRING, VARIANT>) "
                f"IS NOT NULL THEN {as_key} ELSE {as_idx} END"
            )
    r = f"__mu{next(ctr)}r"
    root = f"try_parse_json({operand})"
    # bind the parsed root once: a 1-element transform, same pattern
    # as jsonb_path_match
    def wrap(body: str) -> str:
        return (
            f"try_element_at(transform(array({root}), {r} -> {body}), 1)"
        )

    rm_ = f"try_cast({r} AS MAP<STRING, VARIANT>)"
    ra = f"try_cast({r} AS ARRAY<VARIANT>)"
    orig = f"to_json({r})"
    if kind == "set":
        if len(parts) == 1:
            k = parts[0]
            if isinstance(k, int):
                # root-level array element replace; out-of-range
                # appends when create_if_missing (the PG rule)
                oob = (
                    f"to_json(concat({ra}, array({val})))"
                    if create
                    else orig
                )
                body = (
                    f"CASE WHEN {ra} IS NULL THEN {orig} "
                    f"WHEN size({ra}) <= {k} THEN {oob} ELSE to_json("
                    + _jsonb_arr_insert(_jsonb_arr_delete(ra, k), k, val)
                    + ") END"
                )
                return wrap(body)
            guard = (
                ""
                if create
                else f"WHEN NOT map_contains_key({rm_}, {_sql_str(k)}) "
                f"THEN {orig} "
            )
            body = (
                f"CASE WHEN {rm_} IS NULL THEN {orig} {guard}ELSE "
                f"to_json({_jsonb_obj_set(rm_, k, val, ctr)}) END"
            )
            return wrap(body)
        a, b = parts
        if isinstance(a, int) or not isinstance(b, (str, int)):
            raise ValueError(
                "jsonb_set: 2-step paths translate as {key,key} or "
                "{key,index} only"
            )
        inner = f"try_variant_get({r}, {_sql_str('$' + _json_path_part(a, None))}, 'variant')"
        if isinstance(b, int):
            ia = f"try_cast({inner} AS ARRAY<VARIANT>)"
            oob = f"concat({ia}, array({val}))" if create else ia
            new_inner = (
                f"CASE WHEN size({ia}) <= {b} THEN {oob} ELSE "
                + _jsonb_arr_insert(_jsonb_arr_delete(ia, b), b, val)
                + " END"
            )
            body = (
                f"CASE WHEN {rm_} IS NULL OR {ia} IS NULL THEN {orig} "
                f"ELSE to_json({_jsonb_obj_set(rm_, a, f'to_variant_object({new_inner})', ctr)}) END"
            )
            return wrap(body)
        im = f"try_cast({inner} AS MAP<STRING, VARIANT>)"
        guard = (
            ""
            if create
            else f"WHEN NOT map_contains_key({im}, {_sql_str(b)}) "
            f"THEN {orig} "
        )
        new_inner = f"to_variant_object({_jsonb_obj_set(im, b, val, ctr)})"
        body = (
            f"CASE WHEN {rm_} IS NULL OR {im} IS NULL THEN {orig} "
            f"{guard}ELSE "
            f"to_json({_jsonb_obj_set(rm_, a, new_inner, ctr)}) END"
        )
        return wrap(body)
    if kind == "insert":
        if len(parts) == 1:
            k = parts[0]
            if isinstance(k, int):
                body = (
                    f"CASE WHEN {ra} IS NULL THEN {orig} ELSE to_json("
                    + _jsonb_arr_insert(ra, k + 1 if after else k, val)
                    + ") END"
                )
                return wrap(body)
            # object key: PG inserts only when absent (raises when
            # present; here the present case passes through)
            body = (
                f"CASE WHEN {rm_} IS NULL OR "
                f"map_contains_key({rm_}, {_sql_str(k)}) THEN {orig} "
                f"ELSE to_json({_jsonb_obj_set(rm_, k, val, ctr)}) END"
            )
            return wrap(body)
        a, b = parts
        if not isinstance(a, str) or not isinstance(b, (int, str)):
            raise ValueError(
                "jsonb_insert: 2-step paths translate as {key,index} "
                "or {key,key} only"
            )
        if isinstance(b, str):
            # nested object key: PG inserts only when absent (raises
            # when present; here the present case passes through —
            # the family's lax-drop discipline)
            inner = f"try_variant_get({r}, {_sql_str('$' + _json_path_part(a, None))}, 'variant')"
            im = f"try_cast({inner} AS MAP<STRING, VARIANT>)"
            new_inner = (
                f"to_variant_object({_jsonb_obj_set(im, b, val, ctr)})"
            )
            body = (
                f"CASE WHEN {rm_} IS NULL OR {im} IS NULL OR "
                f"map_contains_key({im}, {_sql_str(b)}) THEN {orig} "
                f"ELSE to_json({_jsonb_obj_set(rm_, a, new_inner, ctr)}) "
                f"END"
            )
            return wrap(body)
        inner = f"try_variant_get({r}, {_sql_str('$' + _json_path_part(a, None))}, 'variant')"
        ia = f"try_cast({inner} AS ARRAY<VARIANT>)"
        new_inner = _jsonb_arr_insert(ia, b + 1 if after else b, val)
        body = (
            f"CASE WHEN {rm_} IS NULL OR {ia} IS NULL THEN {orig} ELSE "
            f"to_json({_jsonb_obj_set(rm_, a, f'to_variant_object({new_inner})', ctr)}) END"
        )
        return wrap(body)
    if kind == "del_key":
        (k,) = parts
        a1 = f"__mu{next(ctr)}k"
        a2 = f"__mu{next(ctr)}v"
        e = f"__mu{next(ctr)}e"
        return wrap(
            f"CASE WHEN {rm_} IS NOT NULL THEN to_json(map_filter({rm_}, "
            f"({a1}, {a2}) -> {a1} != {_sql_str(k)})) "
            f"WHEN {ra} IS NOT NULL THEN to_json(filter({ra}, {e} -> "
            f"to_json({e}) != {_sql_str(_js_quote(k))})) "
            f"ELSE {orig} END"
        )
    if kind == "del_idx":
        (idx,) = parts
        return wrap(
            f"CASE WHEN {ra} IS NULL THEN {orig} ELSE "
            f"to_json({_jsonb_arr_delete(ra, idx)}) END"
        )
    # del_path (#-)
    if len(parts) == 1:
        return _jsonb_mutation_sql(
            "del_idx" if isinstance(parts[0], int) else "del_key",
            operand, parts, None, ctr,
        )
    a, b = parts
    if isinstance(a, int):
        raise ValueError(
            "#-: 2-step paths translate as {key,key} or {key,index} only"
        )
    inner = f"try_variant_get({r}, {_sql_str('$' + _json_path_part(a, None))}, 'variant')"
    if isinstance(b, int):
        ia = f"try_cast({inner} AS ARRAY<VARIANT>)"
        new_inner = f"to_variant_object({_jsonb_arr_delete(ia, b)})"
        body = (
            f"CASE WHEN {rm_} IS NULL OR {ia} IS NULL THEN {orig} ELSE "
            f"to_json({_jsonb_obj_set(rm_, a, new_inner, ctr)}) END"
        )
        return wrap(body)
    im = f"try_cast({inner} AS MAP<STRING, VARIANT>)"
    a1 = f"__mu{next(ctr)}k"
    a2 = f"__mu{next(ctr)}v"
    new_inner = (
        f"to_variant_object(map_filter({im}, ({a1}, {a2}) -> "
        f"{a1} != {_sql_str(b)}))"
    )
    body = (
        f"CASE WHEN {rm_} IS NULL OR {im} IS NULL THEN {orig} ELSE "
        f"to_json({_jsonb_obj_set(rm_, a, new_inner, ctr)}) END"
    )
    return wrap(body)


def _js_quote(s: str) -> str:
    import json as _json

    return _json.dumps(s, ensure_ascii=False)


def _jsonb_typeof_sql(operand: str, ctr) -> str:
    """``jsonb_typeof(x)`` → PG's type-name text via first-char
    dispatch over the parsed variant's JSON form (same table the
    jsonpath ``.type()`` method uses); SQL NULL and invalid JSON
    input → NULL, exactly PG."""
    r = f"__mu{next(ctr)}t"
    tj = f"to_json({r})"
    case = (
        f"CASE WHEN {r} IS NULL THEN NULL "
        f"WHEN startswith({tj}, '{{') THEN 'object' "
        f"WHEN startswith({tj}, '[') THEN 'array' "
        f"WHEN startswith({tj}, '\"') THEN 'string' "
        f"WHEN {tj} IN ('true', 'false') THEN 'boolean' "
        f"WHEN {tj} = 'null' THEN 'null' "
        f"ELSE 'number' END"
    )
    return (
        f"try_element_at(transform(array(try_parse_json({operand})), "
        f"{r} -> {case}), 1)"
    )


def _jsonb_concat_sql(operand: str, rhs, raw: str, ctr) -> str:
    """``X::jsonb || '<json literal>'`` (r15b, mixed-type rule fixed
    r16) — PG's jsonb concatenation for the literal-RHS subset.
    Object ∪ object merges (RHS wins per key); every other
    combination follows PG's wrap rule: a non-array input is
    converted into a single-element array, then the two arrays are
    concatenated (``'{"a":1}' || '5'`` → ``[{"a":1}, 5]``,
    ``'2' || '{"a":1}'`` → ``[2, {"a":1}]``). SQL NULL / unparseable
    input passes through as NULL, matching PG's strict operator."""
    import json as _json

    r = f"__mu{next(ctr)}r"
    rm_ = f"try_cast({r} AS MAP<STRING, VARIANT>)"
    ra = f"try_cast({r} AS ARRAY<VARIANT>)"
    orig = f"to_json({r})"
    rl = f"parse_json({_sql_str(raw)})"
    if isinstance(rhs, dict):
        if rhs:
            entries = ", ".join(
                f"{_sql_str(k)}, parse_json("
                f"{_sql_str(_json.dumps(v, ensure_ascii=False))})"
                for k, v in rhs.items()
            )
            key_list = ", ".join(_sql_str(k) for k in rhs)
            a1 = f"__mu{next(ctr)}k"
            a2 = f"__mu{next(ctr)}v"
            merged = (
                f"to_json(map_concat(map_filter({rm_}, ({a1}, {a2}) -> "
                f"{a1} NOT IN ({key_list})), map({entries})))"
            )
        else:
            merged = orig
        body = (
            f"CASE WHEN {rm_} IS NOT NULL THEN {merged} "
            f"WHEN {ra} IS NOT NULL THEN "
            f"to_json(concat({ra}, array({rl}))) "
            f"WHEN {r} IS NULL THEN {orig} "
            f"ELSE to_json(array({r}, {rl})) END"
        )
    elif isinstance(rhs, list):
        rarr = f"try_cast({rl} AS ARRAY<VARIANT>)"
        body = (
            f"CASE WHEN {ra} IS NOT NULL THEN "
            f"to_json(concat({ra}, {rarr})) "
            f"WHEN {r} IS NULL THEN {orig} "
            f"ELSE to_json(concat(array({r}), {rarr})) END"
        )
    else:  # scalar RHS: arrays append; object/scalar LHS wraps
        body = (
            f"CASE WHEN {ra} IS NOT NULL THEN "
            f"to_json(concat({ra}, array({rl}))) "
            f"WHEN {r} IS NULL THEN {orig} "
            f"ELSE to_json(array({r}, {rl})) END"
        )
    return (
        f"try_element_at(transform(array(try_parse_json({operand})), "
        f"{r} -> {body}), 1)"
    )


def _jsonpath_seq_sql(
    operand: str, steps: list, ctr, strict: bool = False
) -> str:
    """Compile parsed jsonpath steps over a jsonb-text ``operand``
    into one Spark SQL expression producing the result sequence as
    ``ARRAY<VARIANT>`` — entirely codegen built-ins (parse_json /
    try_variant_get / filter / transform / flatten), no UDF. ``ctr``
    supplies fresh lambda-variable suffixes so multiple calls in one
    statement never shadow. ``strict=True`` (r17) compiles PG's
    strict mode: no lax auto-unwrap/auto-wrap, and every structural
    mismatch (member on a non-object, missing member, subscript on a
    non-array, out-of-bounds subscript, non-convertible .double())
    becomes a RUNTIME raise_error exactly where PG's executor raises;
    filter predicates stay error-suppressing in both modes (PG's own
    rule)."""
    def v() -> str:
        return f"__jp{next(ctr)}"

    def _err(msg: str) -> str:
        return f"raise_error('{msg}')"

    w = v()
    seq = f"filter(array(try_parse_json({operand})), {w} -> {w} IS NOT NULL)"

    # Consecutive member steps (no wildcard/filter/index in between)
    # compose into ONE JsonPath so the common $.a.b.c shape is a
    # single try_variant_get per item, not a transform chain. Strict
    # mode compiles each member individually — it must distinguish
    # "not an object" from "member missing" (different PG errors) and
    # from a JSON-null VALUE (kept; variant null is not SQL NULL).
    i = 0
    while i < len(steps):
        kind = steps[i][0]
        if kind == "member" and strict:
            key = steps[i][1].replace("\\", "\\\\").replace("'", "\\'")
            i += 1
            a = v()
            mp = f"try_cast({a} AS MAP<STRING, VARIANT>)"
            elem = (
                f"CASE WHEN {mp} IS NULL THEN "
                + _err(
                    "strict jsonpath: member accessor can only be "
                    "applied to an object"
                )
                + f" WHEN NOT map_contains_key({mp}, '{key}') THEN "
                + _err(f'strict jsonpath: member "{key}" not found')
                + f" ELSE element_at({mp}, '{key}') END"
            )
            seq = f"transform({seq}, {a} -> {elem})"
        elif kind == "member":
            parts = []
            while i < len(steps) and steps[i][0] == "member":
                parts.append(_json_path_part(steps[i][1], None))
                i += 1
            path = _sql_str("$" + "".join(parts))
            a, b = v(), v()
            seq = (
                f"filter(transform({seq}, {a} -> "
                f"try_variant_get({a}, {path}, 'variant')), "
                f"{b} -> {b} IS NOT NULL)"
            )
        elif kind == "index":
            nidx = steps[i][1]
            i += 1
            a, b = v(), v()
            arr = f"try_cast({a} AS ARRAY<VARIANT>)"
            if strict:
                elem = (
                    f"CASE WHEN {arr} IS NULL THEN "
                    + _err(
                        "strict jsonpath: array accessor can only be "
                        "applied to an array"
                    )
                    + f" WHEN size({arr}) <= {nidx} THEN "
                    + _err(
                        "strict jsonpath: array subscript is out of "
                        "bounds"
                    )
                    + f" ELSE try_element_at({arr}, {nidx + 1}) END"
                )
                seq = f"transform({seq}, {a} -> {elem})"
                continue
            # lax mode auto-wraps a non-array for subscripting: $[0]
            # over a scalar yields the scalar itself.
            elem = (
                f"IF({arr} IS NOT NULL, try_element_at({arr}, {nidx + 1}), "
                + (f"{a})" if nidx == 0 else "NULL)")
            )
            seq = (
                f"filter(transform({seq}, {a} -> {elem}), "
                f"{b} -> {b} IS NOT NULL)"
            )
        elif kind == "index_last":
            # [last - k] (r16, VERDICT #4): 1-based element size-k;
            # underflow (k >= size) drops the item (lax out-of-range);
            # lax auto-wrap makes [last] on a scalar the scalar itself.
            k = steps[i][1]
            i += 1
            a, b = v(), v()
            arr = f"try_cast({a} AS ARRAY<VARIANT>)"
            if strict:
                elem = (
                    f"CASE WHEN {arr} IS NULL THEN "
                    + _err(
                        "strict jsonpath: array accessor can only be "
                        "applied to an array"
                    )
                    + f" WHEN size({arr}) <= {k} THEN "
                    + _err(
                        "strict jsonpath: array subscript is out of "
                        "bounds"
                    )
                    + f" ELSE try_element_at({arr}, size({arr}) - {k})"
                    " END"
                )
                seq = f"transform({seq}, {a} -> {elem})"
                continue
            elem = (
                f"IF({arr} IS NOT NULL, IF(size({arr}) > {k}, "
                f"try_element_at({arr}, size({arr}) - {k}), NULL), "
                + (f"{a})" if k == 0 else "NULL)")
            )
            seq = (
                f"filter(transform({seq}, {a} -> {elem}), "
                f"{b} -> {b} IS NOT NULL)"
            )
        elif kind == "slice":
            # [a to b] inclusive (r16, VERDICT #4): lax auto-wraps
            # non-arrays, clips to the array bounds, and yields empty
            # (never an error) when the resolved range is invalid.
            lo, hi = steps[i][1], steps[i][2]
            i += 1
            u, x = v(), v()
            if strict:
                seq = (
                    f"transform({seq}, {u} -> "
                    f"CASE WHEN try_cast({u} AS ARRAY<VARIANT>) IS "
                    f"NULL THEN "
                    + _err(
                        "strict jsonpath: array accessor can only be "
                        "applied to an array"
                    )
                    + f" ELSE try_cast({u} AS ARRAY<VARIANT>) END)"
                )
            else:
                seq = (
                    f"transform({seq}, {u} -> "
                    f"coalesce(try_cast({u} AS ARRAY<VARIANT>), array({u})))"
                )

            def _bsql(bnd: tuple) -> str:
                if bnd[0] == "abs":
                    return str(bnd[1])
                return f"size({x}) - 1 - {bnd[1]}"

            if strict:
                # PG strict RAISES when a resolved bound leaves the
                # array or the range inverts (jsonpath_exec.c)
                lo0, hi0 = _bsql(lo), _bsql(hi)
                seq = (
                    f"flatten(transform({seq}, {x} -> "
                    f"CASE WHEN ({lo0}) < 0 OR ({hi0}) >= size({x}) "
                    f"OR ({lo0}) > ({hi0}) THEN "
                    + _err(
                        "strict jsonpath: array subscript is out of "
                        "bounds"
                    )
                    + f" ELSE slice({x}, ({lo0}) + 1, "
                    f"({hi0}) - ({lo0}) + 1) END))"
                )
            else:
                # PG lax CLAMPS the bounds (jsonpath_exec.c:
                # from=max(0), to=min(size-1)), empty when from > to
                lo0 = f"greatest({_bsql(lo)}, 0)"
                hi0 = f"least({_bsql(hi)}, size({x}) - 1)"
                seq = (
                    f"flatten(transform({seq}, {x} -> "
                    f"IF({hi0} >= {lo0}, "
                    f"slice({x}, ({lo0}) + 1, ({hi0}) - ({lo0}) + 1), "
                    f"slice({x}, 1, 0))))"
                )
        elif kind == "descend":
            # .** (r17, VERDICT r16 #9): depth-first preorder over
            # self + contained values (array elements and object
            # values), as PG's extension defines it — compiled as a
            # fixed-depth union of nested flatten/transform layers.
            # Level-range forms select the in-range levels exactly;
            # bare .** raises AT RUNTIME when structure deeper than
            # the compiled bound exists (found-or-loud: deeper
            # documents can never be silently truncated). Child order
            # for objects follows Spark's variant→map cast (document
            # order) — the standing jsonb-order rule applies.
            _, lo_lv, hi_lv, guarded = steps[i]
            i += 1

            def _kids(a: str) -> str:
                # r18 (VERDICT r17 #5 let-binding): coalesce evaluates
                # its branches lazily and once, so each variant cast
                # runs one time per node instead of twice in the CASE's
                # WHEN+THEN (the descend runs this per node per level —
                # the hottest interpreted path of the jsonb family).
                # Value-identical: array → itself, object → its values,
                # scalar → empty (map_values(NULL) is NULL, slice of a
                # 1-element array with len 0 is the non-null empty).
                arr = f"try_cast({a} AS ARRAY<VARIANT>)"
                mp = f"try_cast({a} AS MAP<STRING, VARIANT>)"
                return (
                    f"coalesce({arr}, map_values({mp}), "
                    f"slice(array({a}), 1, 0))"
                )

            def _desc(var: str, depth: int) -> str:
                if depth == hi_lv:
                    if guarded:
                        return (
                            f"IF(size({_kids(var)}) > 0, "
                            f"raise_error('jsonpath .** found "
                            f"structure deeper than the compiled "
                            f"bound ({hi_lv}) — use an explicit "
                            f".**{{a to b}} level range'), "
                            f"array({var}))"
                        )
                    return f"array({var})"
                sub = v()
                subtree = (
                    f"flatten(transform({_kids(var)}, "
                    f"{sub} -> {_desc(sub, depth + 1)}))"
                )
                if depth >= lo_lv:
                    return f"concat(array({var}), {subtree})"
                return subtree

            u = v()
            seq = f"flatten(transform({seq}, {u} -> {_desc(u, 0)}))"
        elif kind == "wildmember":
            # .* (r16): lax auto-unwraps arrays, then every object's
            # VALUES; non-objects drop. Value order follows Spark's
            # variant→map cast (document order) — PG orders jsonb keys
            # canonically, so cross-engine consumers must not hash
            # multi-key value ORDER (the standing jsonb-order rule).
            i += 1
            u, a = v(), v()
            m_ = f"try_cast({a} AS MAP<STRING, VARIANT>)"
            if strict:
                # strict .*: the item must BE an object — no array
                # unwrap, non-objects raise
                seq = (
                    f"flatten(transform({seq}, {a} -> "
                    f"CASE WHEN {m_} IS NOT NULL THEN map_values({m_}) "
                    f"ELSE "
                    + _err(
                        "strict jsonpath: wildcard member accessor "
                        "can only be applied to an object"
                    )
                    + " END))"
                )
            else:
                seq = (
                    f"flatten(transform({seq}, {u} -> "
                    f"coalesce(try_cast({u} AS ARRAY<VARIANT>), "
                    f"array({u}))))"
                )
                # r18: coalesce evaluates the map cast once (lazy),
                # replacing the CASE's WHEN+THEN double cast —
                # map_values(NULL) is NULL, so non-objects fall to the
                # same non-null empty as before
                seq = (
                    f"flatten(transform({seq}, {a} -> "
                    f"coalesce(map_values({m_}), "
                    f"slice(array({a}), 1, 0))))"
                )
        elif kind == "wild":
            i += 1
            a = v()
            if strict:
                # strict [*]: the item must BE an array
                seq = (
                    f"flatten(transform({seq}, {a} -> "
                    f"CASE WHEN try_cast({a} AS ARRAY<VARIANT>) IS "
                    f"NULL THEN "
                    + _err(
                        "strict jsonpath: wildcard array accessor "
                        "can only be applied to an array"
                    )
                    + f" ELSE try_cast({a} AS ARRAY<VARIANT>) END))"
                )
            else:
                # lax [*]: arrays unwrap to their elements (JSON nulls
                # kept, exactly PG), non-arrays auto-wrap to a
                # singleton.
                seq = (
                    f"flatten(transform({seq}, {a} -> "
                    f"coalesce(try_cast({a} AS ARRAY<VARIANT>), "
                    f"array({a}))))"
                )
        elif kind == "method":
            # terminal .double()/.size()/.type() (r15, VERDICT #4):
            # each stays a VARIANT so downstream to_json/consumer
            # wrapping is uniform (double/size re-enter through
            # try_parse_json of the casted value).
            name = steps[i][1]
            i += 1
            a, b = v(), v()
            if name == "double" and strict:
                # strict .double(): no array unwrap; a non-convertible
                # item RAISES (PG: "argument of jsonpath item method
                # .double() is not a valid representation...")
                conv = (
                    f"CASE WHEN try_cast({a} AS DOUBLE) IS NULL THEN "
                    + _err(
                        "strict jsonpath: .double() argument is not "
                        "convertible to a double value"
                    )
                    + f" ELSE try_parse_json(cast(try_cast({a} AS "
                    f"DOUBLE) AS STRING)) END"
                )
                seq = f"transform({seq}, {a} -> {conv})"
            elif name == "double":
                # PG lax mode unwraps arrays before applying .double();
                # non-convertible items DROP (PG raises — documented
                # deviation, see _parse_jsonpath).
                u = v()
                seq = (
                    f"flatten(transform({seq}, {u} -> "
                    f"coalesce(try_cast({u} AS ARRAY<VARIANT>), "
                    f"array({u}))))"
                )
                conv = (
                    f"try_parse_json(cast(try_cast({a} AS DOUBLE) "
                    f"AS STRING))"
                )
                seq = (
                    f"filter(transform({seq}, {a} -> {conv}), "
                    f"{b} -> {b} IS NOT NULL)"
                )
            elif name == "size":
                # array → length; anything else → 1 in lax, an ERROR
                # in strict (PG .size() requires an array there)
                if strict:
                    conv = (
                        f"CASE WHEN try_cast({a} AS ARRAY<VARIANT>) "
                        f"IS NULL THEN "
                        + _err(
                            "strict jsonpath: .size() can only be "
                            "applied to an array"
                        )
                        + f" ELSE try_parse_json(cast(size(try_cast("
                        f"{a} AS ARRAY<VARIANT>)) AS STRING)) END"
                    )
                else:
                    conv = (
                        f"try_parse_json(cast(coalesce(size(try_cast({a} "
                        f"AS ARRAY<VARIANT>)), 1) AS STRING))"
                    )
                seq = f"transform({seq}, {a} -> {conv})"
            else:  # type — first-char dispatch on the JSON text
                tj = f"to_json({a})"
                conv = (
                    f"parse_json(concat('\"', CASE "
                    f"WHEN startswith({tj}, '{{') THEN 'object' "
                    f"WHEN startswith({tj}, '[') THEN 'array' "
                    f"WHEN startswith({tj}, '\"') THEN 'string' "
                    f"WHEN {tj} IN ('true', 'false') THEN 'boolean' "
                    f"WHEN {tj} = 'null' THEN 'null' "
                    f"ELSE 'number' END, '\"'))"
                )
                seq = f"transform({seq}, {a} -> {conv})"
        else:  # filter
            pred = steps[i][1]
            i += 1
            a = v()
            seq = (
                f"filter({seq}, {a} -> "
                f"coalesce({_jsonpath_pred_sql(a, pred)}, false))"
            )
    return seq


# --------------------------------------------------- PG scalar fidelity
# (r17, VERDICT r16 "What's wrong" #1-#3: pass-through surfaces whose
# PG and Spark semantics silently diverge — to_char's JDK-vs-PG pattern
# language, extract(dow)'s off-by-one, and '/' which PG truncates on
# integer types while Spark is always fractional. Each either
# TRANSLATES faithfully or refuses loudly; none may pass through.)

# PG to_char datetime template patterns → JDK DateTimeFormatter
# (Spark's date_format). Case-SENSITIVE: PG selects output case by
# token spelling ('Mon'→'Mar', 'MON'→'MAR'); only the spellings whose
# JDK twin is exact are mapped — the rest refuse. Longest-first.
_PG_TOCHAR_TOKENS: list[tuple[str, str]] = [
    ("FMMonth", "MMMM"),  # 'March' — PG's unpadded month name
    ("FMDay", "EEEE"),  # 'Tuesday' — PG's unpadded day name
    ("HH24", "HH"),
    ("HH12", "hh"),
    ("YYYY", "yyyy"),
    ("DDD", "D"),  # day of year (PG DDD == JDK D)
    ("Mon", "MMM"),
    ("Dy", "EEE"),
    ("AM", "a"),
    ("PM", "a"),
    ("MM", "MM"),
    ("DD", "dd"),
    ("YY", "yy"),
    ("HH", "hh"),  # PG HH == HH12
    ("MI", "mm"),
    ("SS", "ss"),
    ("MS", "SSS"),
    ("Q", "Q"),
]

_PG_TOCHAR_SEPARATORS = " -/:.,;()"


def _pg_tochar_pattern(pat: str) -> str:
    """Translate a PG ``to_char`` datetime template to the JDK pattern
    ``date_format`` speaks. Every alphanumeric character must be
    consumed by a known token — an unrecognized token is a LOUD
    refusal, never a pass-through (Spark would silently reinterpret
    it: PG ``DD`` is day-of-month, JDK ``DD`` is day-of-YEAR)."""
    out: list[str] = []
    i = 0
    while i < len(pat):
        if pat.startswith(("Month", "Day"), i):
            raise ValueError(
                f"unsupported PG to_char token in pattern {pat!r} — "
                "PG 'Month'/'Day' are blank-padded to 9 chars; use "
                "FMMonth/FMDay for the unpadded names"
            )
        for tok, jdk in _PG_TOCHAR_TOKENS:
            if pat.startswith(tok, i):
                out.append(jdk)
                i += len(tok)
                break
        else:
            ch = pat[i]
            if ch in _PG_TOCHAR_SEPARATORS:
                out.append(ch)
                i += 1
            elif ch.isdigit() or ch in "$S":
                raise ValueError(
                    "PG numeric to_char formats are not supported — "
                    f"datetime patterns only (got {pat!r}; Spark's "
                    "number-pattern language is not PG's)"
                )
            else:
                hint = ""
                if pat.startswith(("Month", "Day"), i):
                    hint = (
                        " — PG 'Month'/'Day' are blank-padded to 9 "
                        "chars; use FMMonth/FMDay for the unpadded "
                        "names"
                    )
                raise ValueError(
                    f"unsupported PG to_char token at {pat[i:]!r} in "
                    f"pattern {pat!r}{hint} (supported: "
                    + ", ".join(t for t, _ in _PG_TOCHAR_TOKENS)
                    + "; refusing rather than letting Spark's "
                    "JDK-style reader silently reinterpret it)"
                )
    return "".join(out)


# Spark column dtypes that are PG integer types (whose '/' truncates).
_PG_DIV_INT_WIDTH = {
    "tinyint": 4,
    "smallint": 4,
    "int": 4,
    "integer": 4,
    "bigint": 8,
    "long": 8,
}

# Calls returning PG int4-class values (division TRUNCATES).
_PG_DIV_INT4_FUNCS = frozenset(
    {
        "length", "char_length", "character_length", "octet_length",
        "bit_length", "strpos", "position", "cardinality",
        "array_length", "width_bucket", "ascii", "sign_int",
    }
)

# Calls whose PG return type is numeric/double — '/' keeps the
# fractional part in BOTH engines, so pass-through is faithful.
# extract/date_part return numeric in PG (14+), as do floor/ceil/
# round/trunc — and dayofweek/weekday are this translator's own
# extract(dow/isodow) emissions, standing in for those numerics.
_PG_DIV_FRAC_FUNCS = frozenset(
    {
        "avg", "percentile_cont", "percentile_disc", "corr",
        "covar_pop", "covar_samp", "stddev", "stddev_pop",
        "stddev_samp", "variance", "var_pop", "var_samp", "random",
        "sqrt", "cbrt", "exp", "ln", "log", "log10", "power", "pow",
        "round", "floor", "ceil", "ceiling", "trunc", "extract",
        "date_part", "dayofweek", "weekday", "degrees", "radians",
        "pi", "atan", "atan2", "sin", "cos", "tan", "asin", "acos",
    }
)

# Calls that preserve their argument types — recurse into the args.
_PG_DIV_PRESERVE_FUNCS = frozenset(
    {"min", "max", "greatest", "least", "coalesce", "nullif", "abs",
     "mod"}
)


def _pg_strip_parens(e: str) -> str:
    """Strip enclosing parens that span the WHOLE expression."""
    e = e.strip()
    while e.startswith("(") and e.endswith(")"):
        depth = 0
        j = 0
        ok = True
        while j < len(e):
            c = e[j]
            if c in "'\"":
                j = _scan_string(e, j)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and j != len(e) - 1:
                    ok = False
                    break
            j += 1
        if not ok:
            break
        e = e[1:-1].strip()
    return e


def _pg_split_arith(e: str) -> list[str] | None:
    """Split an expression on top-level binary arithmetic operators
    (+ - * / % and the ``div`` keyword). None when it is a single
    term. Unary +/- are kept attached to their operand."""
    terms: list[str] = []
    start = 0
    j = 0
    depth = 0
    while j < len(e):
        c = e[j]
        if c in "'\"":
            j = _scan_string(e, j)
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            is_op = False
            oplen = 1
            if c in "+-*/%":
                k = j - 1
                while k >= 0 and e[k].isspace():
                    k -= 1
                if k >= 0 and (e[k].isalnum() or e[k] in ")'\"_]"):
                    is_op = True
            elif c in "dD" and re.match(
                r"(?i)div\b", e[j:]
            ):
                k = j - 1
                if k >= 0 and e[k].isspace():
                    is_op = True
                    oplen = 3
            if is_op:
                terms.append(e[start:j])
                start = j + oplen
                j += oplen
                continue
        j += 1
    if not terms:
        return None
    terms.append(e[start:])
    return [t.strip() for t in terms if t.strip()]


def _pg_div_class(expr: str, coltypes) -> tuple:
    """PG division-semantics class of ``expr``: ``('int', width)``
    when PG's ``/`` on it TRUNCATES (integer types; width 8 for int8,
    else 4 — sum() promotes int4→int8→numeric), ``('frac', 0)`` when
    PG division keeps the fraction (numeric/double — Spark's ``/``
    already matches), ``('unknown', 0)`` when the type cannot be
    proven at translate time."""
    e = _pg_strip_parens(expr)
    terms = _pg_split_arith(e)
    if terms is not None:
        classes = [_pg_div_class(t, coltypes) for t in terms]
        if any(c[0] == "unknown" for c in classes):
            return ("unknown", 0)
        if any(c[0] == "frac" for c in classes):
            return ("frac", 0)
        # an already-emitted Spark `a div b` is BIGINT
        if re.search(r"(?i)\sdiv\s", e):
            return ("int", 8)
        return ("int", max(c[1] for c in classes))
    for pre in ("+", "-"):
        if e.startswith(pre):
            return _pg_div_class(e[1:], coltypes)
    if re.fullmatch(r"\d+", e):
        return ("int", 4 if int(e) <= 2147483647 else 8)
    if re.fullmatch(r"(\d+\.\d*|\.?\d+)([eE][+-]?\d+)?", e) or (
        "." in e and re.fullmatch(r"[\d.eE+-]+", e)
    ):
        return ("frac", 0)
    if re.fullmatch(r":p\d+", e):
        return ("unknown", 0)
    cm = re.match(r"(?is)^(try_)?cast\s*\(", e)
    if cm:
        args, close = _parse_args(e, e.index("(", cm.start()))
        if close == len(e) - 1 and len(args) == 1:
            tm = re.search(r"(?is)\sAS\s+([A-Za-z_]\w*)\s*(\(|$)",
                           args[0])
            if tm:
                ty = tm.group(1).lower()
                if ty in _PG_DIV_INT_WIDTH:
                    return ("int", _PG_DIV_INT_WIDTH[ty])
                if ty in ("double", "float", "real", "decimal",
                          "numeric"):
                    return ("frac", 0)
        return ("unknown", 0)
    fm = re.match(r"^([A-Za-z_]\w*)\s*\(", e)
    if fm:
        args, close = _parse_args(e, e.index("(", fm.end() - 1))
        if close != len(e) - 1:
            return ("unknown", 0)
        name = fm.group(1).lower()
        if name == "count":
            return ("int", 8)
        if name in _PG_DIV_FRAC_FUNCS:
            return ("frac", 0)
        if name in _PG_DIV_INT4_FUNCS:
            return ("int", 4)
        if name == "div":
            # PG's div() returns NUMERIC — further division keeps
            # the fraction (this never matches the translator's own
            # emission, which uses the infix `div` operator)
            return ("frac", 0)
        if name == "sum":
            inner = _pg_div_class(args[0], coltypes) if args else (
                "unknown", 0)
            if inner[0] == "int":
                # PG: sum(int2/int4) → int8 (truncating '/');
                # sum(int8) → numeric (fractional '/')
                return ("int", 8) if inner[1] <= 4 else ("frac", 0)
            return inner
        if name in _PG_DIV_PRESERVE_FUNCS:
            classes = [_pg_div_class(a, coltypes) for a in args]
            if not classes or any(c[0] == "unknown" for c in classes):
                return ("unknown", 0)
            if any(c[0] == "frac" for c in classes):
                return ("frac", 0)
            return ("int", max(c[1] for c in classes))
        return ("unknown", 0)
    if re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*", e):
        dt = (coltypes or {}).get(e.split(".")[-1].lower())
        if dt is None:
            return ("unknown", 0)
        dtl = dt.lower()
        if dtl in _PG_DIV_INT_WIDTH:
            return ("int", _PG_DIV_INT_WIDTH[dtl])
        if dtl in ("double", "float", "real") or dtl.startswith(
            "decimal"
        ):
            return ("frac", 0)
        return ("unknown", 0)
    return ("unknown", 0)


def _pg_operand_end(s: str, i: int) -> int:
    """End index (exclusive) of the primary operand starting at or
    after ``i`` (the RHS of a binary operator): optional sign, then a
    literal, parenthesized group, or identifier chain with an optional
    call-paren group."""
    n = len(s)
    while i < n and s[i].isspace():
        i += 1
    if i < n and s[i] in "+-":
        i += 1
        while i < n and s[i].isspace():
            i += 1
    if i >= n:
        return n
    if s[i] in "'\"":
        return _scan_string(s, i)
    if s[i] == "(":
        depth = 0
        j = i
        while j < n:
            if s[j] in "'\"":
                j = _scan_string(s, j)
                continue
            if s[j] == "(":
                depth += 1
            elif s[j] == ")":
                depth -= 1
                if depth == 0:
                    return j + 1
            j += 1
        return n
    j = i
    while j < n and (s[j].isalnum() or s[j] in "._:$"):
        j += 1
    k = j
    while k < n and s[k].isspace():
        k += 1
    if k < n and s[k] == "(" and j > i:
        return _pg_operand_end(s, k)
    return j


def _pg_div_chain_start(s: str, i: int) -> int:
    """Start of the full multiplicative chain ending at the ``/`` at
    position ``i`` — walks back over ``* / %`` and the ``div`` keyword
    so PG's left-associative precedence is preserved (``a * b / c``
    divides a*b, not b)."""
    start = _cast_operand_start(s, i)
    while True:
        k = start - 1
        while k >= 0 and s[k].isspace():
            k -= 1
        if k < 0:
            return start
        if s[k] in "*/%":
            # binary only: an operand must end right before it
            p = k - 1
            while p >= 0 and s[p].isspace():
                p -= 1
            if p < 0 or not (s[p].isalnum() or s[p] in ")'\"_]"):
                return start
            start = _cast_operand_start(s, k)
        elif k >= 2 and s[k - 2 : k + 1].lower() == "div" and (
            k - 3 < 0 or not (s[k - 3].isalnum() or s[k - 3] == "_")
        ):
            start = _cast_operand_start(s, k - 2)
        else:
            return start


def _pg_column_types(spark, text: str) -> dict:
    """Column name → Spark dtype for every plain table referenced in
    ``text``'s FROM/JOIN clauses that the session catalog can resolve.
    A name appearing with DIFFERENT types across tables maps to None
    (unprovable — the '/' pass refuses loudly on it)."""
    out: dict = {}
    lits = _literal_spans(text)
    names = []
    for m in re.finditer(r"(?i)\b(?:from|join)\s+([A-Za-z_]\w*)", text):
        if any(a <= m.start() < b for a, b in lits):
            continue
        w = m.group(1).lower()
        if w in ("lateral", "select", "values", "unnest",
                 "generate_series", "explode"):
            continue
        if w not in names:
            names.append(w)
    for t in names:
        try:
            dtypes = spark.table(t).dtypes
        except Exception:
            continue
        for c, dt in dtypes:
            cl = c.lower()
            if cl in out:
                if out[cl] != dt:
                    out[cl] = None
            else:
                out[cl] = dt
    return {k: v for k, v in out.items() if v is not None}


def _cast_operand_start_paren(s: str, end: int) -> int:
    """Start index of a ``name(...)`` call whose text ends (exclusive)
    at ``end`` — the WITHIN GROUP back-extension helper."""
    j = end - 1
    while j >= 0 and s[j].isspace():
        j -= 1
    if j < 0 or s[j] != ")":
        return end
    depth = 0
    while j >= 0:
        if s[j] == ")":
            depth += 1
        elif s[j] == "(":
            depth -= 1
            if depth == 0:
                k = j - 1
                while k >= 0 and (s[k].isalnum() or s[k] in "._"):
                    k -= 1
                return k + 1
        j -= 1
    return 0


def _cast_operand_start(s: str, i: int) -> int:
    """``i`` is the index of ':' in '::'. Return the start index of the
    cast operand ending at i (identifier chain, string literal, or
    parenthesized expression, incl. the ``fn(...) WITHIN GROUP
    (ORDER BY ...)`` ordered-set aggregate form)."""
    j = i - 1
    while j >= 0 and s[j].isspace():
        j -= 1
    if j < 0:
        return i
    if s[j] == ")":  # parenthesized operand — match backwards
        import re as _re

        depth = 0
        while j >= 0:
            if s[j] == ")":
                depth += 1
            elif s[j] == "(":
                depth -= 1
                if depth == 0:
                    # include a function name directly before the '('
                    # (e.g. CAST(...)::int, sum(x)::numeric)
                    k = j - 1
                    while k >= 0 and (s[k].isalnum() or s[k] in "._"):
                        k -= 1
                    # ordered-set aggregate: the operand of
                    # `fn(...) WITHIN GROUP (ORDER BY ...)::t` is the
                    # WHOLE aggregate — extend back through WITHIN
                    # GROUP to the call's own start (r13c)
                    wm = _re.search(
                        r"(?is)\bWITHIN\s+GROUP\s*$", s[: k + 1]
                    )
                    if wm is not None:
                        return _cast_operand_start_paren(s, wm.start())
                    return k + 1
            j -= 1
        return 0
    if s[j] == "'":  # string literal — scan back over '' escapes
        j -= 1
        while j >= 0:
            if s[j] == "'":
                if j - 1 >= 0 and s[j - 1] == "'":
                    j -= 2
                    continue
                return j
            j -= 1
        return 0
    # identifier chain a.b.c (incl. $ for params already rewritten to :p)
    while j >= 0 and (s[j].isalnum() or s[j] in "._:$"):
        j -= 1
    return j + 1


def _literal_spans(s: str) -> list[tuple[int, int]]:
    spans = []
    i = 0
    while i < len(s):
        if s[i] in "'\"":
            j = _scan_string(s, i)
            spans.append((i, j))
            i = j
        else:
            i += 1
    return spans


def _rewrite_distinct_on(text: str) -> str:
    """PG ``SELECT DISTINCT ON (keys) list FROM ... ORDER BY keys,
    more...`` → first row per key group via a ``row_number`` window
    partitioned on the keys and ordered by the REMAINING order items
    (PG requires the ORDER BY to lead with the DISTINCT ON
    expressions; so does this rewrite, loudly). With no remaining
    order items PG's pick is unspecified — the rewrite pins it with
    the same content-hash determinism as ANY JOIN
    (``xxhash64(to_json(struct(*)))``). Output row order is
    unspecified (Spark subquery order always is); a trailing LIMIT is
    rejected — apply it in an outer query with its own ORDER BY.

    Scale: one window shuffled on the keys — the latest-per-key shape
    the CDC reader uses (``cdc_latest_event_per_user``)."""
    import re

    m = re.match(
        r"(?is)^\s*SELECT\s+DISTINCT\s+ON\s*\(", text
    )
    if not m:
        if re.search(r"(?i)\bDISTINCT\s+ON\s*\(", text):
            raise ValueError(
                "DISTINCT ON is supported only at the top level of the "
                "query"
            )
        return text
    # find the matching ')' of the ON (...) group
    depth, i = 0, m.end() - 1
    lits = _literal_spans(text)
    while i < len(text):
        if any(a <= i < b for a, b in lits):
            i += 1
            continue
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    if depth != 0:
        raise ValueError("unbalanced parens in DISTINCT ON")
    on_exprs = [e.strip() for e in _split_depth0(text[m.end() : i])]
    rest = text[i + 1 :]
    frm = _depth0_matches(rest, r"\bFROM\b")
    if not frm:
        raise ValueError("DISTINCT ON needs a FROM clause")
    select_list = rest[: frm[0].start()].strip()
    after_from = rest[frm[0].start() :]
    obs = _depth0_matches(after_from, r"\bORDER\s+BY\b")
    if not obs:
        raise ValueError(
            "DISTINCT ON requires an ORDER BY leading with the ON "
            "expressions (as PG does)"
        )
    body = after_from[: obs[0].start()].strip()
    order_txt = after_from[obs[0].end() :]
    if _depth0_matches(order_txt, r"\bLIMIT\b"):
        raise ValueError(
            "DISTINCT ON with LIMIT is not supported — apply the LIMIT "
            "in an outer query"
        )
    norm = lambda s: re.sub(r"\s+", " ", s).strip().lower()  # noqa: E731
    items = [it.strip() for it in _split_depth0(order_txt)]
    if len(items) < len(on_exprs):
        raise ValueError("ORDER BY must lead with the DISTINCT ON keys")
    for on, it in zip(on_exprs, items):
        bare = re.sub(r"(?i)\s+(ASC|DESC)\s*$", "", it)
        if norm(bare) != norm(on):
            raise ValueError(
                f"ORDER BY must lead with the DISTINCT ON keys: expected "
                f"{on!r}, got {it!r}"
            )
    win_order = ", ".join(items[len(on_exprs) :]) or (
        "xxhash64(to_json(struct(*)))"
    )
    return (
        f"SELECT * EXCEPT (__rn) FROM (SELECT {select_list}, "
        f"row_number() OVER (PARTITION BY {', '.join(on_exprs)} "
        f"ORDER BY {win_order}) AS __rn {body}) AS __don "
        f"WHERE __rn = 1"
    )


def translate_pg_sql(text: str, params=None, column_types=None) -> str:
    """Rewrite Postgres-dialect SQL to Spark SQL.

    ``column_types``: optional ``{column_name: spark_dtype}`` map (see
    :func:`_pg_column_types`) used by the integer-division pass to
    PROVE operand types — PG truncates ``/`` on integer types while
    Spark's ``/`` is always fractional, so a provably-integer division
    rewrites to Spark's ``div`` and an unprovable one refuses loudly
    (r17, VERDICT r16).

    Handles the two PG-isms the reference's app queries actually use
    that Spark lacks (``eval_repos/pg-expense-direct/app/api/...``):
    ``$N`` positional parameters (→ named markers ``:pN``) and
    ``expr::type`` casts (→ ``CAST(expr AS type)``), including
    parameterized types (``numeric(10,2)`` → ``DECIMAL(10,2)``,
    ``varchar(255)`` → ``STRING``). String literals are opaque — a
    ``$1`` or ``::`` inside quotes is left alone. Everything else in
    the PG workload (DATE_TRUNC, COALESCE, ILIKE, EXTRACT, FILTER) is
    native Spark SQL and passes through untouched.

    ``params``: the statement's bind values (dict keyed ``p1..pN`` or
    positional list). Needed ONLY when a jsonb containment probe's
    constant side is a parameter (``payload @> $1`` — the common app
    shape): ``@>`` expands to per-path variant checks at translate
    time, so the probe JSON must be known here, not at execution.
    All other ``$N`` stay named markers bound at execution.
    """
    import json as _json
    import re

    # Bind-time inlining of parameterized jsonb containment probes
    # (r14, VERDICT): `col @> $1` / `$1 <@ col` expand through
    # _pg_jsonb_contains only when the probe value is known, so the
    # $N is resolved HERE from params. A dict value is serialized;
    # a string must itself be JSON text.
    def _probe_literal(pnum: str) -> str:
        key = f"p{pnum}"
        pd = (
            params
            if isinstance(params, dict)
            else {f"p{i + 1}": v for i, v in enumerate(params or [])}
        )
        if key not in pd:
            raise ValueError(
                f"jsonb containment probe ${pnum} needs its value at "
                "translate time — pass params to run_pg_sql/"
                "translate_pg_sql (the probe expands to per-path "
                "variant checks, so it cannot stay a runtime marker)"
            )
        val = pd[key]
        if isinstance(val, (dict, list)):
            val = _json.dumps(val, ensure_ascii=False)
        if not isinstance(val, str):
            raise ValueError(
                f"jsonb containment probe ${pnum} must be JSON text "
                f"or a dict/list (got {type(val).__name__})"
            )
        return "'" + val.replace("'", "''") + "'"

    out, i = [], 0
    for a, b in _literal_spans(text) + [(len(text), len(text))]:
        seg = text[i:a]
        seg = re.sub(
            r"(@>\s*)\$(\d+)(\s*::\s*jsonb?\b)?",
            lambda m: m.group(1) + _probe_literal(m.group(2)),
            seg,
        )
        seg = re.sub(
            r"\$(\d+)(\s*::\s*jsonb?\b)?(\s*<@)",
            lambda m: _probe_literal(m.group(1)) + m.group(3),
            seg,
        )
        out.append(seg)
        out.append(text[a:b])
        i = b
    text = "".join(out)

    # $N → :pN, outside string literals only (rebuild by segments so
    # offsets stay consistent).
    out, i = [], 0
    for a, b in _literal_spans(text) + [(len(text), len(text))]:
        out.append(re.sub(r"\$(\d+)", r":p\1", text[i:a]))
        out.append(text[a:b])
        i = b
    text = "".join(out)
    text = _rewrite_distinct_on(text)

    # string_agg(expr, delim ORDER BY keys) — PG puts the ORDER BY
    # inside the call; Spark 4's native string_agg takes it as a
    # WITHIN GROUP clause. Unordered string_agg passes through (the
    # name and 2-arg form are identical in Spark 4.1).
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"\bstring_agg\s*\(", text, re.IGNORECASE):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            op = mm.end() - 1
            _, close = _parse_args(text, op)
            body = text[op + 1 : close]
            ob = None
            for om in re.finditer(r"\bORDER\s+BY\b", body, re.IGNORECASE):
                blits = _literal_spans(body)
                if any(a <= om.start() < b for a, b in blits):
                    continue
                if body[: om.start()].count("(") == body[
                    : om.start()
                ].count(")"):
                    ob = om
                    break
            if ob is not None:
                hit = (mm.start(), op, close, body, ob)
                break
        if hit is None:
            break
        s0, op, close, body, ob = hit
        head, order_items = body[: ob.start()].rstrip(), body[ob.end() :]
        text = (
            text[:s0]
            + f"string_agg({head}) WITHIN GROUP "
            + f"(ORDER BY{order_items})"
            + text[close + 1 :]
        )

    # PG json_agg / jsonb_agg (r17, VERDICT r16 "What's missing" #2):
    # → to_json over a collect_list of struct-wrapped elements. The
    # struct wrapper keeps SQL NULL elements (collect_list drops bare
    # NULLs; PG renders them as JSON null), array_sort applies the
    # in-call ORDER BY (single direction; ASC sorts, DESC reverses),
    # and nullif(.., '[]') restores PG's NULL-for-zero-rows contract
    # (a FILTER clause can empty a group; a struct-wrapped element is
    # never dropped, so '[]' means exactly zero rows). UNORDERED
    # json_agg is canonicalized by sorting on the element itself —
    # PG's input order is plan-dependent under parallelism, so the
    # deterministic canonical form is the documented contract.
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"\bjsonb?_agg\s*\(", text, re.IGNORECASE):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        op = hit.end() - 1
        _, close = _parse_args(text, op)
        body = text[op + 1 : close]
        if re.match(r"(?is)^\s*DISTINCT\b", body):
            raise ValueError(
                "json_agg(DISTINCT ...) is not supported — PG keeps "
                "one NULL while collect_list drops them; refusing "
                "rather than silently diverging"
            )
        ob = None
        for om in re.finditer(r"\bORDER\s+BY\b", body, re.IGNORECASE):
            blits = _literal_spans(body)
            if any(a <= om.start() < b for a, b in blits):
                continue
            if body[: om.start()].count("(") == body[: om.start()].count(
                ")"
            ):
                ob = om
                break
        if ob is not None:
            elem = body[: ob.start()].strip()
            items = [
                it.strip() for it in _split_depth0(body[ob.end() :])
            ]
            dirs = set()
            keys = []
            for it in items:
                dm = re.search(r"(?i)\s+(ASC|DESC)\s*$", it)
                if dm:
                    dirs.add(dm.group(1).upper())
                    keys.append(it[: dm.start()].strip())
                else:
                    dirs.add("ASC")
                    keys.append(it)
            if len(dirs) > 1:
                raise ValueError(
                    "json_agg ORDER BY with mixed ASC/DESC directions "
                    "is not supported (a single array_sort cannot "
                    "express it)"
                )
            desc = dirs == {"DESC"}
        else:
            elem = body.strip()
            keys = [elem]  # canonical order: the element itself
            desc = False
        fields = ", ".join(
            f"'o{i + 1}', {k}" for i, k in enumerate(keys)
        )
        # a trailing FILTER (WHERE ...) clause belongs to the
        # aggregate itself — splice it onto collect_list, not the
        # scalar wrappers
        tail_start = close + 1
        filt = ""
        fmm = re.match(r"\s*FILTER\s*\(", text[close + 1 :], re.IGNORECASE)
        if fmm:
            fop = close + 1 + fmm.end() - 1
            _, fclose = _parse_args(text, fop)
            filt = " " + text[close + 1 : fclose + 1].strip()
            tail_start = fclose + 1
        sorted_arr = (
            f"array_sort(collect_list(named_struct({fields}, "
            f"'v', {elem})){filt})"
        )
        if desc:
            sorted_arr = f"reverse({sorted_arr})"
        repl = (
            f"nullif(to_json(transform({sorted_arr}, "
            f"__ja -> __ja.v)), '[]')"
        )
        text = text[: hit.start()] + repl + text[tail_start:]

    # PG json_object_agg / jsonb_object_agg (r17): key/value pairs →
    # to_json over map_from_entries of a SORTED collect_list (keys
    # canonicalized by sort — PG jsonb orders keys canonically too,
    # though by its length-then-bytewise rule; json_object_agg's raw
    # insertion order is plan-dependent under parallelism, so the
    # sorted form is the documented contract). Keys cast to STRING
    # (PG requires text keys), NULL values kept, NULL keys and
    # duplicate keys fail LOUDLY at runtime (Spark's map dedup policy
    # — PG jsonb would keep the last duplicate; never silent),
    # zero-row groups → PG's NULL via nullif('{}').
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\bjsonb?_object_agg\s*\(", text, re.IGNORECASE
        ):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        op = hit.end() - 1
        args, close = _parse_args(text, op)
        if len(args) != 2:
            raise ValueError(
                "json_object_agg takes exactly two arguments "
                "(key, value)"
            )
        k_, v_ = args
        tail_start = close + 1
        filt = ""
        fmm = re.match(r"\s*FILTER\s*\(", text[close + 1 :], re.IGNORECASE)
        if fmm:
            fop = close + 1 + fmm.end() - 1
            _, fclose = _parse_args(text, fop)
            filt = " " + text[close + 1 : fclose + 1].strip()
            tail_start = fclose + 1
        repl = (
            f"nullif(to_json(map_from_entries(array_sort("
            f"collect_list(named_struct('k', CAST(({k_}) AS STRING), "
            f"'v', {v_})){filt}))), '{{}}')"
        )
        text = text[: hit.start()] + repl + text[tail_start:]

    # PG array_agg (r17, same NULL contract as json_agg): Spark's
    # array_agg/collect_list DROPS NULL elements where PG keeps them —
    # the struct wrapper preserves every row; ORDER BY/FILTER handled
    # as in json_agg; the empty array maps back to PG's NULL through
    # a single-evaluation 1-element-array lambda. Unordered calls
    # canonicalize by element sort (documented).
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"\barray_agg\s*\(", text, re.IGNORECASE):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        op = hit.end() - 1
        _, close = _parse_args(text, op)
        body = text[op + 1 : close]
        if re.match(r"(?is)^\s*DISTINCT\b", body):
            raise ValueError(
                "array_agg(DISTINCT ...) is not supported — PG keeps "
                "one NULL while collect_list drops them; refusing "
                "rather than silently diverging"
            )
        ob = None
        for om in re.finditer(r"\bORDER\s+BY\b", body, re.IGNORECASE):
            blits = _literal_spans(body)
            if any(a <= om.start() < b for a, b in blits):
                continue
            if body[: om.start()].count("(") == body[: om.start()].count(
                ")"
            ):
                ob = om
                break
        if ob is not None:
            elem = body[: ob.start()].strip()
            items = [
                it.strip() for it in _split_depth0(body[ob.end() :])
            ]
            dirs = set()
            keys = []
            for it in items:
                dm = re.search(r"(?i)\s+(ASC|DESC)\s*$", it)
                if dm:
                    dirs.add(dm.group(1).upper())
                    keys.append(it[: dm.start()].strip())
                else:
                    dirs.add("ASC")
                    keys.append(it)
            if len(dirs) > 1:
                raise ValueError(
                    "array_agg ORDER BY with mixed ASC/DESC "
                    "directions is not supported (a single array_sort "
                    "cannot express it)"
                )
            desc = dirs == {"DESC"}
        else:
            elem = body.strip()
            keys = [elem]
            desc = False
        fields = ", ".join(
            f"'o{i + 1}', {k}" for i, k in enumerate(keys)
        )
        tail_start = close + 1
        filt = ""
        fmm = re.match(r"\s*FILTER\s*\(", text[close + 1 :], re.IGNORECASE)
        if fmm:
            fop = close + 1 + fmm.end() - 1
            _, fclose = _parse_args(text, fop)
            filt = " " + text[close + 1 : fclose + 1].strip()
            tail_start = fclose + 1
        sorted_arr = (
            f"array_sort(collect_list(named_struct({fields}, "
            f"'v', {elem})){filt})"
        )
        if desc:
            sorted_arr = f"reverse({sorted_arr})"
        va, vb = "__aa1", "__aa2"
        repl = (
            f"try_element_at(transform(array(transform({sorted_arr}, "
            f"{va} -> {va}.v)), {vb} -> "
            f"IF(size({vb}) = 0, NULL, {vb})), 1)"
        )
        text = text[: hit.start()] + repl + text[tail_start:]

    # PG row_to_json(rec): a bare relation alias → to_json(struct
    # (alias.*)); an anonymous ROW(a, b) → named_struct with PG's own
    # f1..fn field names. Anything else (expressions, nested calls)
    # refuses loudly — the record's shape is not knowable at
    # translate time. (PG's to_json(record) spelling is NOT rewritten:
    # to_json is also a native Spark function and a bare identifier
    # may be a struct column it already serializes correctly — write
    # row_to_json for the relation-alias form.)
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"\brow_to_json\s*\(", text, re.IGNORECASE):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        args, close = _parse_args(text, hit.end() - 1)
        if len(args) == 1 and re.fullmatch(
            r"[A-Za-z_]\w*", args[0].strip()
        ):
            repl = f"to_json(struct({args[0].strip()}.*))"
        elif len(args) == 1 and re.match(
            r"(?is)^row\s*\(", args[0].strip()
        ):
            inner = args[0].strip()
            row_args, rclose = _parse_args(
                inner, inner.index("(")
            )
            if rclose != len(inner) - 1:
                raise ValueError(
                    "row_to_json(ROW(...)) with trailing content is "
                    "not supported"
                )
            fields = ", ".join(
                f"'f{i + 1}', {a}" for i, a in enumerate(row_args)
            )
            repl = f"to_json(named_struct({fields}))"
        else:
            raise ValueError(
                "row_to_json takes a relation alias or an anonymous "
                f"ROW(...) constructor (got {args!r}) — the record "
                "shape of any other expression is not knowable at "
                "translate time"
            )
        text = text[: hit.start()] + repl + text[close + 1 :]

    # PG JSON navigation: chains of -> (json-preserving) and ->> (text
    # extraction) compose into ONE JsonPath at translate time
    # (`j -> 'a' -> 'b' ->> 'c'` → get_json_object(j, '$.a.b.c')).
    # A chain ENDING in ->> maps to get_json_object (whose
    # unquoted-scalar return is exactly ->>'s contract). A chain
    # ending in -> maps through Spark's VARIANT reader —
    # to_json(try_variant_get(parse_json(j), path, 'variant')) — which
    # re-serializes the value AS JSON text (strings keep their quotes,
    # objects/arrays their structure, missing keys → NULL), the
    # faithful twin of ->'s jsonb return that get_json_object cannot
    # express (r13; previously a documented loud failure).
    def _enclosing_call_name(k: int) -> str | None:
        """The identifier owning the call whose arg list contains
        position ``k`` (k points at '(' or ','); None when k isn't
        inside a call's parentheses."""
        i, depth = k, 0
        if text[i] == ",":
            while i >= 0:
                ch = text[i]
                if ch == ")":
                    depth += 1
                elif ch == "(":
                    if depth == 0:
                        break
                    depth -= 1
                i -= 1
            if i < 0:
                return None
        j = i - 1
        while j >= 0 and text[j].isspace():
            j -= 1
        e = j
        while j >= 0 and (text[j].isalnum() or text[j] == "_"):
            j -= 1
        name = text[j + 1 : e + 1]
        return name or None

    _HOF_NAMES = frozenset(
        {
            "transform", "filter", "exists", "forall", "aggregate",
            "reduce", "zip_with", "map_filter", "map_zip_with",
            "transform_keys", "transform_values", "array_sort",
        }
    )

    def _is_lambda_arrow(mm) -> bool:
        """``param -> body`` (a Spark higher-order lambda a user wrote
        through the PG arm): the LHS is a BARE identifier directly
        preceded by '(' or ',', and the enclosing call is a known
        higher-order function — skip, don't raise. The lambda shape is
        checked BEFORE the literal-RHS shortcut so ``transform(a, v ->
        1)`` passes through while ``SELECT a, j -> 'k'`` stays a JSON
        op (ADVICE r13)."""
        s0 = _cast_operand_start(text, mm.start())
        lhs = text[s0 : mm.start()].strip()
        if not re.fullmatch(r"\w+", lhs):
            return False
        k = s0 - 1
        while k >= 0 and text[k].isspace():
            k -= 1
        if k < 0 or text[k] not in "(,":
            return False
        name = _enclosing_call_name(k)
        if name is not None and name.lower() in _HOF_NAMES:
            return True
        # outside a HOF: a literal RHS is exactly the JSON op's
        # key/index shape; a non-literal RHS can only be a lambda
        return not re.match(r"\s*(?:'[^']*'|\d+)", text[mm.end() :])

    while True:
        spans = _literal_spans(text)
        first = None
        for mm in re.finditer(r"->>?", text):
            if any(a <= mm.start() < b for a, b in spans):
                continue
            if _is_lambda_arrow(mm):
                continue
            first = mm
            break
        if first is None:
            break
        start = _cast_operand_start(text, first.start())
        operand = text[start : first.start()].rstrip()
        i, parts, last_op = first.start(), [], None
        while True:
            om = re.match(r"->>?", text[i:])
            if om is None:
                break
            opx = om.group(0)
            km = re.match(
                r"\s*(?:'((?:[^']|'')*)'|(\d+))", text[i + len(opx) :]
            )
            if km is None:
                raise ValueError(
                    f"{opx} needs a literal string key or integer index"
                )
            key = km.group(1)
            if key is not None:
                # un-double SQL-escaped quotes; _json_path_part then
                # refuses quote-bearing keys loudly (previously the
                # match stopped AT the doubled quote and emitted
                # corrupt SQL silently)
                key = key.replace("''", "'")
            parts.append(_json_path_part(key, km.group(2)))
            last_op = opx
            i = i + len(opx) + km.end()
            j = i
            while j < len(text) and text[j].isspace():
                j += 1
            if text.startswith("->", j):
                if last_op == "->>":
                    raise ValueError(
                        "->> returns text — chain with -> before the "
                        "final extraction (PG would raise the same)"
                    )
                i = j
                continue
            break
        path = "$" + "".join(parts)
        if last_op == "->>":
            repl = f"get_json_object({operand}, '{path}')"
        else:
            repl = (
                f"to_json(try_variant_get(parse_json({operand}), "
                f"'{path}', 'variant'))"
            )
        text = text[:start] + repl + text[i:]

    # jsonb path operators #> / #>> : the path is a literal '{a,b,0}'
    # array — composed into one JsonPath exactly like the ->/->>
    # chains ( #>> → get_json_object text; #> → JSON-preserving
    # variant read). Runs before ->/->> (tokens share no prefix but
    # the outputs must not be re-scanned).
    while True:
        spans = _literal_spans(text)
        pos = None
        for mm in re.finditer(r"#>>?", text):
            if any(a <= mm.start() < b for a, b in spans):
                continue
            pos = mm
            break
        if pos is None:
            break
        op = pos.group(0)
        rm = re.match(r"\s*'\{([^}']*)\}'", text[pos.end() :])
        if rm is None:
            raise ValueError(
                f"{op} needs a literal '{{a,b,...}}' path array"
            )
        parts = [p.strip() for p in rm.group(1).split(",") if p.strip()]
        path = "$" + "".join(
            _json_path_part(None, p) if p.isdigit() else _json_path_part(p, None)
            for p in parts
        )
        start = _cast_operand_start(text, pos.start())
        operand = text[start : pos.start()].rstrip()
        if op == "#>>":
            repl = f"get_json_object({operand}, '{path}')"
        else:
            repl = (
                f"to_json(try_variant_get(parse_json({operand}), "
                f"'{path}', 'variant'))"
            )
        text = text[:start] + repl + text[pos.end() + rm.end() :]

    # jsonb @? 'path' → jsonb_path_exists(jsonb, 'path'): rewritten to
    # the function spelling here (BEFORE the bare-? key-exists pass,
    # whose scan would otherwise eat the '?' of '@?'), compiled by the
    # jsonb_path_* pass below.
    while True:
        lits = _literal_spans(text)
        pos_at = None
        for mm in re.finditer(r"@\?", text):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            pos_at = mm
            break
        if pos_at is None:
            break
        start = _cast_operand_start(text, pos_at.start())
        lhs = text[start : pos_at.start()].rstrip()
        rm = re.match(
            r"\s*('(?:[^']|'')*')(\s*::\s*jsonpath\b)?",
            text[pos_at.end() :],
        )
        if rm is None:
            raise ValueError(
                "@? needs a literal jsonpath right-hand side"
            )
        text = (
            text[:start]
            + f"jsonb_path_exists({lhs}, {rm.group(1)})"
            + text[pos_at.end() + rm.end() :]
        )

    # jsonb key-exists ? / ?| / ?& : `j ? 'k'` is true even when the
    # value is JSON null (present-but-null), which Spark's VARIANT
    # reader distinguishes from missing — to_json(try_variant_get)
    # yields 'null' for the former, SQL NULL only for the latter.
    # ?|/?& take a literal array['a','b'] and OR/AND the checks.
    # ($N placeholders were already rewritten to :pN, so a bare ? at
    # depth 0 followed by a literal is unambiguous; (?<!@) keeps a
    # not-yet-rewritten @? out of this scan.)
    while True:
        spans = _literal_spans(text)
        pos = None
        for mm in re.finditer(r"(?<!@)\?[|&]?", text):
            if any(a <= mm.start() < b for a, b in spans):
                continue
            pos = mm
            break
        if pos is None:
            break
        op = pos.group(0)
        start = _cast_operand_start(text, pos.start())
        lhs = text[start : pos.start()].rstrip()
        pj = f"parse_json({lhs})"

        def exists(key: str) -> str:
            path = "$" + _json_path_part(key, None)
            return (
                f"(to_json(try_variant_get({pj}, {_sql_str(path)}, "
                f"'variant')) IS NOT NULL)"
            )

        rest = text[pos.end() :]
        if op == "?":
            rm = re.match(r"\s*'([^']*)'", rest)
            if rm is None:
                raise ValueError("? needs a literal string key")
            repl = exists(rm.group(1))
        else:
            rm = re.match(
                r"\s*array\s*\[([^\]]*)\]", rest, re.IGNORECASE
            )
            if rm is None:
                raise ValueError(
                    f"{op} needs a literal array['k1','k2',...] of keys"
                )
            keys = [
                k.strip()[1:-1]
                for k in rm.group(1).split(",")
                if k.strip()
            ]
            joiner = " OR " if op == "?|" else " AND "
            repl = "(" + joiner.join(exists(k) for k in keys) + ")"
        text = text[:start] + repl + text[pos.end() + rm.end() :]

    # PG ARRAY[...] literals → array(...): feeds the array operators
    # below and Spark's own array functions. Depth-aware: nested
    # brackets/parens and string literals stay intact.
    while True:
        lits = _literal_spans(text)
        mm = None
        for cand in re.finditer(r"\bARRAY\s*\[", text, re.IGNORECASE):
            if any(a <= cand.start() < b for a, b in lits):
                continue
            mm = cand
            break
        if mm is None:
            break
        i, depth, n = mm.end() - 1, 0, len(text)
        j = i
        while j < n:
            c = text[j]
            if c in "'\"":
                j = _scan_string(text, j)
                continue
            if c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise ValueError("unbalanced ARRAY[...] literal")
        inner = text[i + 1 : j]
        text = text[: mm.start()] + f"array({inner})" + text[j + 1 :]

    # scalar = ANY(array) / <> ALL(array): the PG membership idiom.
    # An array argument maps to array_contains; a subquery argument
    # maps to IN/NOT IN (the ANSI form Spark plans as a semi join).
    while True:
        lits = _literal_spans(text)
        hit = None
        for cand in re.finditer(
            r"(=|<>|!=)\s*(ANY|ALL)\s*\(", text, re.IGNORECASE
        ):
            if any(a <= cand.start() < b for a, b in lits):
                continue
            hit = cand
            break
        if hit is None:
            break
        op, quant = hit.group(1), hit.group(2).upper()
        if (op == "=") != (quant == "ANY"):
            raise ValueError(
                f"unsupported quantified comparison {op} {quant} — the "
                "membership forms are = ANY / <> ALL"
            )
        args, close = _parse_args(text, hit.end() - 1)
        raw_inner = text[hit.end() : close].strip()
        if re.match(r"(?is)^SELECT\b", raw_inner):
            args = [raw_inner]  # subquery commas are not arg splits
        if len(args) != 1:
            raise ValueError(f"{quant} takes one array or subquery")
        start = _cast_operand_start(text, hit.start())
        lhs = text[start : hit.start()].rstrip()
        arg = args[0].strip()
        if re.match(r"(?is)^SELECT\b", arg):
            kw = "IN" if quant == "ANY" else "NOT IN"
            repl = f"({lhs} {kw} ({arg}))"
        else:
            repl = f"array_contains({arg}, {lhs})"
            if quant == "ALL":
                repl = f"(NOT {repl})"
        text = text[:start] + repl + text[close + 1 :]

    # Array overlap && : PG's `a && b` → arrays_overlap. Disambiguated
    # from a (nonstandard) logical && by requiring an array literal or
    # array(...) call on at least one side at translate time? No — PG
    # SQL has no logical &&, so the operator is unambiguous here.
    while True:
        lits = _literal_spans(text)
        mm = None
        for cand in re.finditer(r"&&", text):
            if any(a <= cand.start() < b for a, b in lits):
                continue
            mm = cand
            break
        if mm is None:
            break
        start = _cast_operand_start(text, mm.start())
        lhs = text[start : mm.start()].rstrip()
        rm = re.match(
            r"\s*(array\s*\((?:[^()']|'[^']*'|\([^()]*\))*\)|[\w.]+)",
            text[mm.end() :],
        )
        if rm is None:
            raise ValueError("&& needs array operands")
        repl = f"arrays_overlap({lhs}, {rm.group(1)})"
        text = text[:start] + repl + text[mm.end() + rm.end() :]

    # unnest(arr) → explode(arr) (the comma-LATERAL pass below
    # laterizes the FROM-position form). Parallel-array unnest(a, b)
    # has no direct Spark twin and fails loudly.
    while True:
        lits = _literal_spans(text)
        mm = None
        for cand in re.finditer(r"\bunnest\s*\(", text, re.IGNORECASE):
            if any(a <= cand.start() < b for a, b in lits):
                continue
            mm = cand
            break
        if mm is None:
            break
        args, close = _parse_args(text, mm.end() - 1)
        if len(args) != 1:
            raise ValueError(
                "parallel-array unnest(a, b, ...) is not translatable — "
                "zip the arrays explicitly"
            )
        om = re.match(
            r"\s*WITH\s+ORDINALITY\s*(?:AS\s+(\w+)\s*\(\s*(\w+)\s*,"
            r"\s*(\w+)\s*\))?",
            text[close + 1 :],
            re.IGNORECASE,
        )
        if om is not None:
            # r17: WITH ORDINALITY → inline over an index-carrying
            # transform (the lambda's second parameter is Spark's
            # 0-based element index; PG ordinality is 1-based). The
            # aliased form binds the PG column names through the
            # struct fields; the bare form keeps PG's default
            # `unnest`/`ordinality` names.
            if om.group(1):
                t_, xc, ic = om.group(1), om.group(2), om.group(3)
            else:
                t_, xc, ic = "__uo", "unnest", "ordinality"
            repl = (
                f"inline(transform({args[0]}, (__uv, __ui) -> "
                f"struct(__uv AS {xc}, __ui + 1 AS {ic}))) AS {t_} "
            )
            text = (
                text[: mm.start()] + repl
                + text[close + 1 + om.end() :]
            )
            continue
        text = text[: mm.start()] + f"explode({args[0]})" + text[close + 1 :]

    # jsonb containment: lhs @> 'literal'[::jsonb] — expanded to a
    # conjunction of per-path variant checks at translate time
    # (_pg_jsonb_contains); the reversed form 'literal' <@ rhs swaps
    # the roles. ARRAY containment (an array(...) operand on the
    # constant side) maps to forall/array_contains instead. A dynamic
    # jsonb probe is a loud failure, not a silent one.
    while True:
        spans = _literal_spans(text)
        pos = None
        for mm in re.finditer(r"@>|<@", text):
            if any(a <= mm.start() < b for a, b in spans):
                continue
            pos = mm
            break
        if pos is None:
            break
        op = pos.group(0)
        _ARR = r"array\s*\((?:[^()']|'[^']*'|\([^()]*\))*\)"
        if op == "@>":
            start = _cast_operand_start(text, pos.start())
            lhs = text[start : pos.start()].rstrip()
            am = re.match(rf"\s*({_ARR})", text[pos.end() :], re.IGNORECASE)
            if am is not None:
                # array containment: every RHS element present in lhs
                repl = (
                    f"forall({am.group(1)}, "
                    f"__ac -> array_contains({lhs}, __ac))"
                )
                text = text[:start] + repl + text[pos.end() + am.end() :]
                continue
            rm = re.match(
                r"\s*'((?:[^']|'')*)'(\s*::\s*jsonb?\b)?",
                text[pos.end() :],
                re.IGNORECASE,
            )
            if rm is None:
                raise ValueError(
                    "@> needs a literal JSON or array(...) right-hand "
                    "side (a dynamic containment probe is not "
                    "translatable)"
                )
            repl = _pg_jsonb_contains(lhs, rm.group(1))
            text = text[:start] + repl + text[pos.end() + rm.end() :]
            continue
        # <@ : contained-by — the constant is on the LEFT
        start = _cast_operand_start(text, pos.start())
        lit = text[start : pos.start()].rstrip()
        am = re.fullmatch(_ARR, lit, re.IGNORECASE)
        if am is None and re.match(
            rf"\s*{_ARR}", text[pos.end() :], re.IGNORECASE
        ):
            # col <@ array(...): every lhs element present in the array
            rm = re.match(rf"\s*({_ARR})", text[pos.end() :], re.IGNORECASE)
            repl = (
                f"forall({lit}, __ac -> array_contains({rm.group(1)}, "
                f"__ac))"
            )
            text = text[:start] + repl + text[pos.end() + rm.end() :]
            continue
        if am is not None:
            rm = re.match(
                rf"\s*({_ARR}|[\w.]+)", text[pos.end() :], re.IGNORECASE
            )
            if rm is None:
                raise ValueError("<@ needs an array right-hand side")
            repl = (
                f"forall({lit}, __ac -> array_contains({rm.group(1)}, "
                f"__ac))"
            )
            text = text[:start] + repl + text[pos.end() + rm.end() :]
            continue
        lm = re.fullmatch(
            r"'((?:[^']|'')*)'(\s*::\s*jsonb?)?", lit, re.IGNORECASE
        )
        if lm is None:
            raise ValueError(
                "<@ needs a literal JSON or array(...) constant side "
                "(a dynamic containment probe is not translatable)"
            )
        rm = re.match(r"\s*([\w.]+(?:\s*::\s*jsonb?)?)", text[pos.end() :])
        if rm is None:
            raise ValueError("<@ needs a column right-hand side")
        repl = _pg_jsonb_contains(rm.group(1), lm.group(1))
        text = text[:start] + repl + text[pos.end() + rm.end() :]

    # extract(epoch FROM x) / date_part('epoch', x): Spark's extract
    # has no epoch field — map to unix_micros (fraction-preserving,
    # exactly PG's double-seconds contract).
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\b(?:extract|date_part)\s*\(", text, re.IGNORECASE
        ):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            args, close = _parse_args(text, mm.end() - 1)
            if len(args) == 1:
                em = re.match(
                    r"(?is)^epoch\s+FROM\s+(.*)$", args[0].strip()
                )
            elif len(args) == 2 and args[0].strip().lower() in (
                "'epoch'",
                "epoch",
            ):
                em = re.match(r"(?s)^(.*)$", args[1].strip())
            else:
                em = None
            if em is None:
                continue
            hit = (mm.start(), close, em.group(1))
            break
        if hit is None:
            break
        s0, close, expr = hit
        text = (
            text[:s0]
            + f"(CAST(unix_micros(CAST(({expr}) AS TIMESTAMP)) AS DOUBLE)"
            + " / 1000000.0)"
            + text[close + 1 :]
        )

    # jsonb MUTATION family (r15, VERDICT #5): jsonb_set /
    # jsonb_insert (literal path + literal value), `X::jsonb - 'key'`
    # / `X::jsonb - N` delete operators (the explicit ::jsonb cast
    # disambiguates from PG interval/numeric subtraction — an untyped
    # `x - 'k'` is ambiguous at translate time and stays untouched),
    # and `#- '{a,b}'` path delete. Each compiles to a VARIANT →
    # map/array rebuild → to_json reconstruction (_jsonb_mutation_sql).
    # Emitted text contains lambda arrows, so this runs AFTER the
    # ->/->> passes, in the same cursor-based zone as jsonb_path_*.
    _mu_ctr = iter(range(1_000_000))
    pos = 0
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\bjsonb_(set|insert)\s*\(", text[pos:], re.IGNORECASE
        ):
            if any(a <= pos + mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        h0 = pos + hit.start()
        fn = "jsonb_" + hit.group(1).lower()
        args, close = _parse_args(text, pos + hit.end() - 1)
        if len(args) not in (3, 4):
            raise ValueError(f"{fn} takes 3 or 4 arguments")
        operand = args[0].strip()
        parts = _jsonb_mut_path(args[1], fn)
        val = _jsonb_new_value(args[2], fn)
        flag = False
        if len(args) == 4:
            fm = re.fullmatch(r"\s*(true|false)\s*", args[3], re.IGNORECASE)
            if fm is None:
                raise ValueError(
                    f"{fn}: the boolean argument must be a literal "
                    "true/false"
                )
            flag = fm.group(1).lower() == "true"
        if fn == "jsonb_set":
            repl = _jsonb_mutation_sql(
                "set", operand, parts, val, _mu_ctr,
                create=(flag if len(args) == 4 else True),
            )
        else:
            repl = _jsonb_mutation_sql(
                "insert", operand, parts, val, _mu_ctr, after=flag
            )
        text = text[:h0] + repl + text[close + 1 :]
        pos = h0 + len(repl)

    # `X::jsonb - 'key'` / `X::jsonb - N` (minus-delete). Loops so
    # chained deletes with explicit casts compose:
    # (j::jsonb - 'a')::jsonb - 'b'.
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"::\s*jsonb\s*-(?!>)\s*(?:'((?:[^']|'')*)'|(\d+))", text
        ):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        start = _cast_operand_start(text, hit.start())
        operand = text[start : hit.start()].rstrip()
        if hit.group(2) is not None:
            repl = _jsonb_mutation_sql(
                "del_idx", operand, [int(hit.group(2))], None, _mu_ctr
            )
        else:
            key = hit.group(1).replace("''", "'")
            repl = _jsonb_mutation_sql(
                "del_key", operand, [key], None, _mu_ctr
            )
        text = text[:start] + repl + text[hit.end() :]

    # `X::jsonb || '<json literal>'` concatenation (r15b) — like the
    # minus-delete, the explicit cast disambiguates from SQL string
    # concatenation (Spark's native ||, which untranslated text keeps).
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"::\s*jsonb\s*\|\|\s*('(?:[^']|'')*')(\s*::\s*jsonb?\b)?",
            text,
        ):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        import json as _json

        raw = hit.group(1)[1:-1].replace("''", "'")
        try:
            rhs = _json.loads(raw)
        except ValueError:
            raise ValueError(
                f"::jsonb || right-hand side is not valid JSON: "
                f"{raw[:60]!r}"
            )
        start = _cast_operand_start(text, hit.start())
        operand = text[start : hit.start()].rstrip()
        repl = _jsonb_concat_sql(operand, rhs, raw, _mu_ctr)
        text = text[:start] + repl + text[hit.end() :]

    # jsonb_typeof(x) / json_typeof(x) → PG type-name text
    pos = 0
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\bjsonb?_typeof\s*\(", text[pos:], re.IGNORECASE
        ):
            if any(a <= pos + mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        h0 = pos + hit.start()
        args, close = _parse_args(text, pos + hit.end() - 1)
        if len(args) != 1:
            raise ValueError("jsonb_typeof takes exactly one argument")
        repl = _jsonb_typeof_sql(args[0].strip(), _mu_ctr)
        text = text[:h0] + repl + text[close + 1 :]
        pos = h0 + len(repl)

    # `X #- '{a,b}'` path delete (token is unambiguous — no cast
    # needed; the #>/#>> pass never matches '#-').
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"#-", text):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        rm = re.match(
            r"\s*('\{[^}']*\}'(?:\s*::\s*text\s*\[\s*\])?)",
            text[hit.end() :],
        )
        if rm is None:
            raise ValueError(
                "#- needs a literal '{a,b,...}' path array"
            )
        parts = _jsonb_mut_path(rm.group(1), "#-")
        start = _cast_operand_start(text, hit.start())
        operand = text[start : hit.start()].rstrip()
        repl = _jsonb_mutation_sql(
            "del_path", operand, parts, None, _mu_ctr
        )
        text = text[:start] + repl + text[hit.end() + rm.end() :]

    # SQL/JSONPath functions (r14, VERDICT #5): the bounded lax-mode
    # subset compiles to codegen built-ins over the VARIANT reader —
    # member/index/[*]/filter steps via _jsonpath_seq_sql. Emitted
    # text contains lambda arrows and commas, so the scan is
    # cursor-based (resume past each replacement) and runs AFTER the
    # ->/->> passes, mirroring _JSON_SRF below.
    _jp_ctr = iter(range(1_000_000))
    pos = 0
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\bjsonb?_path_(exists|match|query_first|query_array|query)"
            r"\s*\(",
            text[pos:],
            re.IGNORECASE,
        ):
            if any(a <= pos + mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        h0 = pos + hit.start()
        fn = hit.group(1).lower()
        args, close = _parse_args(text, pos + hit.end() - 1)
        if len(args) != 2:
            raise ValueError(
                f"jsonb_path_{fn}: only the 2-argument form is "
                "translatable (vars/silent arguments are not)"
            )
        operand = args[0].strip()
        pm = re.fullmatch(
            r"\s*'((?:[^']|'')*)'(\s*::\s*jsonpath\b)?\s*", args[1]
        )
        if pm is None:
            raise ValueError(
                f"jsonb_path_{fn}: the path must be a string literal "
                "(a dynamic jsonpath is not translatable)"
            )
        path_text = pm.group(1).replace("''", "'")
        if fn == "match":
            # predicate path over the root: $.a.b OP literal / exists
            ptxt = re.sub(r"^\s*lax\s+", "", path_text)
            if re.match(r"^\s*strict\b", ptxt):
                raise ValueError(
                    "strict jsonb_path_match is not supported — its "
                    "predicate NULL-vs-error semantics differ from "
                    "the sequence family (jsonb_path_query/exists/"
                    "query_array compile strict mode, r17)"
                )
            pred = _parse_jsonpath_pred(ptxt.strip(), "$")
            rv = f"__jp{next(_jp_ctr)}r"
            pred_sql = _jsonpath_pred_sql(rv, pred)
            # bind the parsed root once via a 1-element transform
            repl = (
                f"try_element_at(transform(array(try_parse_json"
                f"({operand})), {rv} -> {pred_sql}), 1)"
            )
        else:
            strict_mode, steps = _parse_jsonpath(path_text)
            seq = _jsonpath_seq_sql(
                operand, steps, _jp_ctr, strict=strict_mode
            )
            if fn == "exists":
                repl = (
                    f"(CASE WHEN ({operand}) IS NULL THEN NULL "
                    f"ELSE size({seq}) > 0 END)"
                )
            elif fn == "query_first":
                repl = f"to_json(try_element_at({seq}, 1))"
            elif fn == "query_array":
                repl = (
                    f"(CASE WHEN ({operand}) IS NULL THEN NULL "
                    f"ELSE to_json({seq}) END)"
                )
            else:  # query — set-returning, one row per match
                qv = f"__jp{next(_jp_ctr)}q"
                item = f"to_json({qv})"
                span_start, span_end = h0, close + 1
                # Spark forbids a generator nested in CAST, so a cast
                # of the whole SRF folds into the per-item lambda:
                # the PG idiom `jsonb_path_query(j, p)::float8` (the
                # :: pass runs after this one) and an explicit
                # CAST(jsonb_path_query(...) AS t) both.
                tm = re.match(
                    r"::\s*([A-Za-z_]\w*)"
                    r"(\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?",
                    text[close + 1 :],
                )
                cm = re.search(r"(?is)\bCAST\s*\(\s*$", text[:h0])
                am = re.match(
                    r"(?is)\s*AS\s+([A-Za-z_]\w*"
                    r"(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*\)",
                    text[close + 1 :],
                )
                if tm is not None:
                    lo = tm.group(1).lower()
                    suffix = tm.group(2)
                    if lo in ("numeric", "decimal") and suffix:
                        spark_t = "DECIMAL" + re.sub(r"\s", "", suffix)
                    elif lo in ("varchar", "char"):
                        spark_t = "STRING"
                    else:
                        spark_t = PG_TYPES.get(lo, tm.group(1).upper())
                        if suffix and lo not in PG_TYPES:
                            spark_t += re.sub(r"\s", "", suffix)
                    item = f"CAST({item} AS {spark_t})"
                    span_end = close + 1 + tm.end()
                elif cm is not None and am is not None:
                    item = f"CAST({item} AS {am.group(1)})"
                    span_start = cm.start()
                    span_end = close + 1 + am.end()
                repl = f"explode(transform({seq}, {qv} -> {item}))"
                text = text[:span_start] + repl + text[span_end:]
                pos = span_start + len(repl)
                continue
        text = text[:h0] + repl + text[close + 1 :]
        pos = h0 + len(repl)

    # PG set-returning json functions: jsonb_array_elements_text →
    # explode over a typed VARIANT cast; the json-preserving variant
    # re-serializes each element (quoted strings, structural JSON).
    # Runs after the JSON-operator passes (the emitted lambda arrow
    # must not be re-scanned by the -> pass).
    _JSON_SRF = {
        "jsonb_array_elements_text": lambda x: (
            f"explode(CAST(parse_json({x}) AS ARRAY<STRING>))"
        ),
        "json_array_elements_text": lambda x: (
            f"explode(CAST(parse_json({x}) AS ARRAY<STRING>))"
        ),
        "jsonb_array_elements": lambda x: (
            f"explode(transform(CAST(parse_json({x}) AS ARRAY<VARIANT>), "
            f"__je -> to_json(__je)))"
        ),
        "json_array_elements": lambda x: (
            f"explode(transform(CAST(parse_json({x}) AS ARRAY<VARIANT>), "
            f"__je -> to_json(__je)))"
        ),
        "jsonb_array_length": lambda x: (
            f"size(CAST(parse_json({x}) AS ARRAY<VARIANT>))"
        ),
        "json_array_length": lambda x: (
            f"size(CAST(parse_json({x}) AS ARRAY<VARIANT>))"
        ),
    }
    _JSON_SRF["jsonb_object_keys"] = lambda x: (
        f"explode(json_object_keys({x}))"
    )
    _JSON_SRF["json_object_keys"] = _JSON_SRF["jsonb_object_keys"]
    # each_text: scalar values exactly; nested values stringify
    # compactly. each (json-preserving): values re-serialized as JSON
    # text through the VARIANT reader (quoted strings etc.).
    _JSON_SRF["jsonb_each_text"] = lambda x: (
        f"explode(from_json({x}, 'map<string,string>'))"
    )
    _JSON_SRF["json_each_text"] = _JSON_SRF["jsonb_each_text"]
    _JSON_SRF["jsonb_each"] = lambda x: (
        f"explode(transform_values(CAST(parse_json({x}) AS "
        f"MAP<STRING, VARIANT>), (__jk, __jv) -> to_json(__jv)))"
    )
    _JSON_SRF["json_each"] = _JSON_SRF["jsonb_each"]
    # cursor-based scan: the json_object_keys rewrite EMITS a call
    # with the same name (Spark's builtin) — rescanning from 0 would
    # loop forever; resume past each replacement instead (r13c).
    pos = 0
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\b(jsonb?_(?:array_(?:elements(?:_text)?|length)"
            r"|object_keys|each(?:_text)?))\s*\(",
            text[pos:],
            re.IGNORECASE,
        ):
            if any(a <= pos + mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        h0 = pos + hit.start()
        args, close = _parse_args(text, pos + hit.end() - 1)
        if len(args) != 1:
            raise ValueError(f"{hit.group(1)} takes exactly one argument")
        repl = _JSON_SRF[hit.group(1).lower()](args[0])
        text = text[:h0] + repl + text[close + 1 :]
        pos = h0 + len(repl)

    # jsonb_build_object('k1', v1, ...) → to_json(named_struct(...)):
    # compact jsonb rendering, keys must be literals (PG evaluates
    # them dynamically; a translate-time struct needs names).
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\bjsonb?_build_object\s*\(", text, re.IGNORECASE
        ):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        args, close = _parse_args(text, hit.end() - 1)
        if len(args) % 2 != 0 or not args:
            raise ValueError(
                "jsonb_build_object takes key/value pairs"
            )
        for k in args[::2]:
            if not re.fullmatch(r"'[^']*'", k.strip()):
                raise ValueError(
                    "jsonb_build_object keys must be string literals "
                    f"(got {k!r})"
                )
        repl = f"to_json(named_struct({', '.join(args)}))"
        text = text[: hit.start()] + repl + text[close + 1 :]

    # PG comma-LATERAL / CROSS JOIN LATERAL → Spark's JOIN LATERAL
    # (same correlated-subquery semantics; Spark only spells the
    # explicit-join form). The bare `, explode(` form is rewritten
    # ONLY when the comma sits in a FROM clause (ADVICE r13: a
    # select-list SRF — `SELECT id, jsonb_array_elements_text(tags)`
    # — must keep its comma; Spark supports one generator per select
    # list with the same row-multiplying semantics PG 10+ gives
    # select-list SRFs).
    def _active_clause(p: int) -> str | None:
        """The SQL clause governing position p at its paren depth —
        '(' pushes the current clause (subqueries reset it with their
        own SELECT; function-arg parens inherit it)."""
        lits = _literal_spans(text)
        stack: list = []
        cur = None
        for tok in re.finditer(
            # VALUES is NOT a boundary: `FROM VALUES (...) AS t(j), srf`
            # keeps the FROM clause open (INSERT..VALUES has no FROM
            # before it, so it still reads as non-FROM).
            r"[()]|\b(select|from|where|group|having|order|limit|"
            r"window|union|intersect|except|set|returning)\b",
            text[:p],
            re.IGNORECASE,
        ):
            if any(a <= tok.start() < b for a, b in lits):
                continue
            t = tok.group(0)
            if t == "(":
                stack.append(cur)
            elif t == ")":
                cur = stack.pop() if stack else None
            else:
                cur = t.lower()
        return cur

    while True:
        lits = _literal_spans(text)
        mm = None
        for cand in re.finditer(
            r",\s*LATERAL\b|\bCROSS\s+JOIN\s+LATERAL\b"
            # PG's implicit-lateral SRF in FROM: `, jsonb_each_text(j)`
            # (already rewritten to explode by the SRF pass above)
            r"|,(?=\s*(?:explode|inline)\s*\()",
            text,
            re.IGNORECASE,
        ):
            if any(a <= cand.start() < b for a, b in lits):
                continue
            if (
                cand.group(0) == ","
                and _active_clause(cand.start()) != "from"
            ):
                continue  # select-list SRF comma — leave in place
            mm = cand
            break
        if mm is None:
            break
        text = text[: mm.start()] + " JOIN LATERAL" + text[mm.end() :]

    # generate_series(a, b[, step]) → explode(sequence(...)). Works in
    # both FROM position (`FROM generate_series(1, 12) AS g(n)` —
    # Spark accepts explode as a table-valued function) and the SELECT
    # list. The 2-arg form guards PG's empty-set-when-start>stop
    # contract with a constant-false filter (Spark's sequence(5, 1)
    # would DESCEND — a silent wrong answer otherwise); the 3-arg
    # form guards it too: PG yields an EMPTY set when the step's sign
    # disagrees with the range (generate_series(5, 1, 1) → 0 rows)
    # while Spark's sequence(5, 1, 1) throws 'Illegal sequence
    # boundaries' — the stop is swapped to the start (a one-element,
    # always-legal sequence) and the filter drops everything (ADVICE
    # r13). `a + step > a` detects step sign without sign(), so
    # timestamp/interval series keep working.
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"\bgenerate_series\s*\(", text, re.IGNORECASE):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        op = hit.end() - 1
        args, close = _parse_args(text, op)
        if len(args) == 2:
            a, b = args
            repl = (
                f"explode(filter(sequence({a}, {b}), "
                f"__gs -> ({a}) <= ({b})))"
            )
        elif len(args) == 3:
            a, b, s = args
            bad = (
                f"((({a}) < ({b}) AND ({a}) + ({s}) < ({a})) "
                f"OR (({a}) > ({b}) AND ({a}) + ({s}) > ({a})))"
            )
            repl = (
                f"explode(filter(sequence({a}, "
                f"CASE WHEN {bad} THEN ({a}) ELSE ({b}) END, {s}), "
                f"__gs -> NOT {bad}))"
            )
        else:
            raise ValueError("generate_series takes 2 or 3 arguments")
        text = text[: hit.start()] + repl + text[close + 1 :]

    # PG to_char(expr, 'pattern') → date_format with the pattern
    # translated token-by-token (r17, VERDICT r16 #1: Spark's to_char
    # datetime patterns are JDK-style — PG 'DD' silently reads as
    # day-of-YEAR, 'MM-DD' returned '03-65'). Non-literal patterns and
    # unknown tokens refuse loudly; PG numeric to_char stays loud.
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"\bto_char\s*\(", text, re.IGNORECASE):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        args, close = _parse_args(text, hit.end() - 1)
        if len(args) != 2:
            raise ValueError("to_char takes exactly two arguments")
        pat_arg = args[1].strip()
        if not (pat_arg.startswith("'") and pat_arg.endswith("'")):
            raise ValueError(
                "to_char needs a string-literal pattern — PG and "
                "Spark pattern languages differ, so a dynamic pattern "
                "cannot be translated (refusing rather than letting "
                "Spark reinterpret it)"
            )
        pat = pat_arg[1:-1].replace("''", "'")
        jdk = _pg_tochar_pattern(pat)
        repl = f"date_format({args[0]}, '{jdk}')"
        text = text[: hit.start()] + repl + text[close + 1 :]

    # PG extract(dow/isodow FROM x) / date_part('dow'/'isodow', x):
    # PG dow is 0=Sunday, Spark's DOW extract is 1=Sunday (r17,
    # VERDICT r16 #2 — every weekday rollup silently shifted a day).
    # dow → dayofweek(x)-1; isodow (1=Monday..7=Sunday, previously a
    # loud INVALID_EXTRACT_FIELD) → weekday(x)+1.
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\bextract\s*\(\s*(dow|isodow)\s+from\b",
            text,
            re.IGNORECASE,
        ):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        op = text.index("(", hit.start())
        args, close = _parse_args(text, op)
        body = args[0]
        expr = re.split(r"(?i)\bfrom\b", body, maxsplit=1)[1].strip()
        if hit.group(1).lower() == "dow":
            repl = f"(dayofweek({expr}) - 1)"
        else:
            repl = f"(weekday({expr}) + 1)"
        text = text[: hit.start()] + repl + text[close + 1 :]
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\bdate_part\s*\(\s*'(dow|isodow)'\s*,",
            text,
            re.IGNORECASE,
        ):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        op = text.index("(", hit.start())
        args, close = _parse_args(text, op)
        expr = args[1].strip()
        if hit.group(1).lower() == "dow":
            repl = f"(dayofweek({expr}) - 1)"
        else:
            repl = f"(weekday({expr}) + 1)"
        text = text[: hit.start()] + repl + text[close + 1 :]

    # Scalar-fidelity batch 2 (r17, same silent-divergence class as
    # to_char/dow/div — each verified against a live Spark 4.1):
    # log(x) is BASE 10 in PG but natural log in Spark → log10;
    # 2-arg log(b, x) agrees and passes through.
    pos0 = 0
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"\blog\s*\(", text[pos0:], re.IGNORECASE):
            if any(a <= pos0 + mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        h0 = pos0 + hit.start()
        args, close = _parse_args(text, pos0 + hit.end() - 1)
        if len(args) == 1:
            repl = f"log10({args[0]})"
            text = text[:h0] + repl + text[close + 1 :]
            pos0 = h0 + len(repl)
        else:
            pos0 = close + 1

    # PG '^' is POWER (left-assoc); Spark '^' is bitwise XOR — a
    # silent wrong value on every exponentiation. Infix detection as
    # in the ~ pass: an operand must end right before it.
    while True:
        lits = _literal_spans(text)
        pos = None
        for mm in re.finditer(r"\^", text):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            j = mm.start() - 1
            while j >= 0 and text[j].isspace():
                j -= 1
            if j < 0 or not (text[j].isalnum() or text[j] in ")'_\""):
                continue
            pos = mm
            break
        if pos is None:
            break
        start = _cast_operand_start(text, pos.start())
        lhs = text[start : pos.start()].rstrip()
        rhs_end = _pg_operand_end(text, pos.end())
        rhs = text[pos.end() : rhs_end].strip()
        text = (
            text[:start] + f"power({lhs}, {rhs})" + text[rhs_end:]
        )

    # PG left/right accept NEGATIVE counts (drop from the other end);
    # Spark returns '' — rewritten to one substring that matches PG
    # for every sign (positive unchanged, negative drops, overflow
    # clamps to the full/empty string).
    pos0 = 0
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\b(left|right)\s*\(", text[pos0:], re.IGNORECASE
        ):
            if any(a <= pos0 + mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        h0 = pos0 + hit.start()
        args, close = _parse_args(text, pos0 + hit.end() - 1)
        if len(args) != 2:
            pos0 = close + 1
            continue
        s_, n_ = args
        if hit.group(1).lower() == "left":
            repl = (
                f"substring({s_}, 1, IF(({n_}) >= 0, ({n_}), "
                f"greatest(length({s_}) + ({n_}), 0)))"
            )
        else:
            repl = (
                f"substring({s_}, IF(({n_}) >= 0, "
                f"greatest(length({s_}) - ({n_}) + 1, 1), "
                f"(-({n_})) + 1))"
            )
        text = text[:h0] + repl + text[close + 1 :]
        pos0 = h0 + len(repl)

    # PG trunc(x) truncates toward zero; Spark's trunc is DATE
    # truncation and rejects one numeric argument. The 2-arg numeric
    # form stays loud (Spark would silently date-truncate it).
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"\btrunc\s*\(", text, re.IGNORECASE):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        args, close = _parse_args(text, hit.end() - 1)
        if len(args) != 1:
            raise ValueError(
                "PG trunc(x, n) is not translatable (Spark's 2-arg "
                "trunc is date truncation — a silent reinterpretation;"
                " use round() or an explicit cast)"
            )
        x_ = args[0]
        repl = f"IF(({x_}) >= 0, floor({x_}), ceil({x_}))"
        text = text[: hit.start()] + repl + text[close + 1 :]

    # 2-arg ltrim/rtrim: PG is (string, chars) but Spark is
    # (trimStr, string) — REVERSED (verified: ltrim('xxabcxx','x')
    # returns '' through Spark, 'abcxx' in PG). Swap at translate
    # time; the 1-arg forms and btrim agree and pass through.
    pos0 = 0
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\b([lr]trim)\s*\(", text[pos0:], re.IGNORECASE
        ):
            if any(a <= pos0 + mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        h0 = pos0 + hit.start()
        args, close = _parse_args(text, pos0 + hit.end() - 1)
        if len(args) == 2:
            repl = f"{hit.group(1).lower()}({args[1]}, {args[0]})"
            text = text[:h0] + repl + text[close + 1 :]
            pos0 = h0 + len(repl)
        else:
            pos0 = close + 1

    # strpos(s, sub) → instr (same order, 1-based, 0 when absent).
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(r"\bstrpos\s*\(", text, re.IGNORECASE):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        args, close = _parse_args(text, hit.end() - 1)
        if len(args) != 2:
            raise ValueError("strpos takes exactly two arguments")
        text = (
            text[: hit.start()]
            + f"instr({args[0]}, {args[1]})"
            + text[close + 1 :]
        )

    # PG array<->string converters (r17): string_to_array with a
    # LITERAL delimiter → split over a \Q..\E-quoted pattern (Spark's
    # split takes a regex); PG's edges map exactly — empty delimiter
    # yields the whole string as one element, a NULL literal
    # delimiter splits per character. Dynamic delimiters and the
    # 3-arg null-string form stay loud. array_to_string →
    # array_join (same skip-NULLs / null-string contract);
    # regexp_split_to_array → split (Java-vs-POSIX regex caveat as
    # documented for '~').
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\bstring_to_array\s*\(", text, re.IGNORECASE
        ):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        args, close = _parse_args(text, hit.end() - 1)
        if len(args) != 2:
            raise ValueError(
                "string_to_array: only the 2-argument form is "
                "translatable (the null-string argument is not)"
            )
        s_, d_ = args[0], args[1].strip()
        if d_.upper() == "NULL":
            repl = f"split({s_}, '')"  # PG NULL delim = per character
        elif d_.startswith("'") and d_.endswith("'"):
            dval = d_[1:-1].replace("''", "'")
            if dval == "":
                repl = f"array({s_})"  # PG '' delim = whole string
            elif "\\E" in dval:
                raise ValueError(
                    r"string_to_array delimiter containing \E cannot "
                    "be regex-quoted faithfully"
                )
            else:
                esc = dval.replace("\\", "\\\\").replace("'", "''")
                repl = f"split({s_}, '\\\\Q{esc}\\\\E')"
        else:
            raise ValueError(
                "string_to_array needs a literal delimiter (Spark's "
                "split takes a regex — a dynamic delimiter cannot be "
                "quoted at translate time)"
            )
        text = text[: hit.start()] + repl + text[close + 1 :]
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\b(array_to_string|regexp_split_to_array)\s*\(",
            text,
            re.IGNORECASE,
        ):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        args, close = _parse_args(text, hit.end() - 1)
        fn = hit.group(1).lower()
        if fn == "array_to_string":
            if len(args) not in (2, 3):
                raise ValueError(
                    "array_to_string takes 2 or 3 arguments"
                )
            repl = f"array_join({', '.join(args)})"
        else:
            if len(args) != 2:
                raise ValueError(
                    "regexp_split_to_array: flags are not "
                    "translatable (2-argument form only)"
                )
            repl = f"split({args[0]}, {args[1]})"
        text = text[: hit.start()] + repl + text[close + 1 :]

    # to_date / to_timestamp with a format: the parse-direction twin
    # of the to_char fix — Spark's pattern language is JDK-style, so
    # the PG template translates token-by-token (unknown tokens and
    # dynamic formats loud). 1-arg forms pass through.
    pos0 = 0
    while True:
        lits = _literal_spans(text)
        hit = None
        for mm in re.finditer(
            r"\bto_(date|timestamp)\s*\(", text[pos0:], re.IGNORECASE
        ):
            if any(a <= pos0 + mm.start() < b for a, b in lits):
                continue
            hit = mm
            break
        if hit is None:
            break
        h0 = pos0 + hit.start()
        args, close = _parse_args(text, pos0 + hit.end() - 1)
        if len(args) == 1:
            pos0 = close + 1
            continue
        if len(args) != 2:
            raise ValueError(
                f"to_{hit.group(1).lower()} takes one or two arguments"
            )
        pat_arg = args[1].strip()
        if not (pat_arg.startswith("'") and pat_arg.endswith("'")):
            raise ValueError(
                f"to_{hit.group(1).lower()} needs a string-literal "
                "format — PG and Spark pattern languages differ, so a "
                "dynamic format cannot be translated"
            )
        jdk = _pg_tochar_pattern(pat_arg[1:-1].replace("''", "'"))
        repl = (
            f"to_{hit.group(1).lower()}({args[0]}, '{jdk}')"
        )
        text = text[:h0] + repl + text[close + 1 :]
        pos0 = h0 + len(repl)

    # PG regex-match operators: expr ~ pat → RLIKE; ~* prepends (?i)
    # inside the (required-literal) pattern; !~ / !~* negate. The
    # infix form is disambiguated from any prefix use of '~' by
    # requiring an operand ending (identifier/')'/quote) immediately
    # before the operator.
    while True:
        lits = _literal_spans(text)
        pos = None
        _kw = frozenset(
            "select where and or not then else when by on as in case end "
            "from join having set values distinct all between like "
            "union except intersect limit offset group order".split()
        )
        start = operand = None
        for mm in re.finditer(r"!~\*|!~|~\*|~", text):
            if any(a <= mm.start() < b for a, b in lits):
                continue
            j = mm.start() - 1
            while j >= 0 and text[j].isspace():
                j -= 1
            if j < 0 or not (text[j].isalnum() or text[j] in ")'_\""):
                continue  # prefix ~, not an infix match operator
            s = _cast_operand_start(text, mm.start())
            cand = text[s:mm.start()].rstrip()
            if cand.lower() in _kw:
                continue  # `SELECT ~5` — keyword, not an operand
            pos, start, operand = mm, s, cand
            break
        if pos is None:
            break
        op = pos.group(0)
        ci, neg = op.endswith("*"), op.startswith("!")
        rhs = text[pos.end() :]
        rm = re.match(r"\s*('(?:[^']|'')*'|\w+(?:\.\w+)*)", rhs)
        if not rm:
            raise ValueError(f"PG {op} needs a pattern operand")
        pat = rm.group(1)
        if ci:
            if not pat.startswith("'"):
                raise ValueError(
                    f"PG {op} needs a literal pattern (the (?i) flag is "
                    "spliced at translate time)"
                )
            pat = "'(?i)" + pat[1:]
        expr = f"({operand} RLIKE {pat})"
        if neg:
            expr = f"(NOT {expr})"
        text = text[:start] + expr + rhs[rm.end() :]

    # rewrite innermost :: casts repeatedly (supports x::text::int chains)
    while True:
        spans = _literal_spans(text)
        i = text.find("::")
        while i >= 0 and any(a <= i < b for a, b in spans):
            i = text.find("::", i + 2)
        if i < 0:
            break
        j = i + 2
        m = re.match(r"\s*([A-Za-z_]\w*)(\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?", text[j:])
        if not m:
            break  # stray '::' — leave as-is
        pg_type, params = m.group(1), m.group(2)
        lo = pg_type.lower()
        if lo in ("numeric", "decimal") and params:
            spark_type = "DECIMAL" + re.sub(r"\s", "", params)
        elif lo in ("varchar", "char") and params:
            spark_type = "STRING"  # Spark strings are unbounded
        else:
            spark_type = PG_TYPES.get(lo, pg_type.upper())
            if params and lo not in PG_TYPES:
                spark_type += re.sub(r"\s", "", params)
        start = _cast_operand_start(text, i)
        operand = text[start:i].rstrip()
        text = (
            text[:start]
            + f"CAST({operand} AS {spark_type})"
            + text[j + m.end() :]
        )

    # date - date (r17): PG yields INTEGER days; Spark yields an
    # INTERVAL — a silent type+value change wherever the difference
    # feeds arithmetic. Rewritten to datediff ONLY when BOTH operands
    # are PROVEN dates (DATE literals, current_date, CAST(... AS
    # DATE), or catalog columns of date type); anything else passes
    # through untouched ('-' is overwhelmingly numeric and cannot
    # refuse on unprovable operands).
    def _is_date_operand(e: str) -> bool:
        e = e.strip()
        if re.match(r"(?i)^DATE\s*'", e):
            return True
        if re.fullmatch(r"(?i)current_date(\s*\(\s*\))?", e):
            return True
        if re.match(r"(?i)^cast\s*\(", e) and re.search(
            r"(?i)\sAS\s+DATE\s*\)\s*$", e
        ):
            return True
        if re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*", e):
            dt = (column_types or {}).get(e.split(".")[-1].lower())
            return dt == "date"
        return False

    offset = 0
    while True:
        lits = _literal_spans(text)
        pos = -1
        j = text.find("-", offset)
        while j >= 0:
            if not any(a <= j < b for a, b in lits):
                k = j - 1
                while k >= 0 and text[k].isspace():
                    k -= 1
                if k >= 0 and (text[k].isalnum() or text[k] in ")'\"_]"):
                    pos = j
                    break
            j = text.find("-", j + 1)
        if pos < 0:
            break
        lhs_start = _cast_operand_start(text, pos)
        # a DATE/TIMESTAMP keyword-literal: include the keyword
        if text[lhs_start : lhs_start + 1] == "'":
            km = re.search(
                r"(?i)\b(date|timestamp)\s*$", text[:lhs_start]
            )
            if km is not None:
                lhs_start = km.start(1)
        lhs = text[lhs_start:pos].rstrip()
        rhs_end = _pg_operand_end(text, pos + 1)
        rhs = text[pos + 1 : rhs_end].strip()
        if re.fullmatch(r"(?i)date|timestamp", rhs):
            nm = re.match(r"\s*'", text[rhs_end:])
            if nm is not None:
                rhs_end = _scan_string(text, rhs_end + nm.end() - 1)
                rhs = text[pos + 1 : rhs_end].strip()
        if _is_date_operand(lhs) and _is_date_operand(rhs):
            repl = f"datediff({lhs}, {rhs})"
            text = text[:lhs_start] + repl + text[rhs_end:]
            offset = lhs_start + len(repl)
        else:
            offset = pos + 1

    # '/' fidelity (r17, VERDICT r16 #3) — PG TRUNCATES division on
    # integer types (7/2 = 3) while Spark's '/' is always fractional.
    # Runs after the :: pass so casts are in CAST form. Both operand
    # types provably integer → Spark's truncating infix `div`; a
    # provably fractional side → faithful pass-through; unprovable →
    # loud refusal (never a silently-wrong value). The LHS walk-back
    # crosses the whole multiplicative chain so left-associative
    # precedence is preserved (a * b / c divides a*b, not b).
    offset = 0
    while True:
        lits = _literal_spans(text)
        pos = -1
        j = text.find("/", offset)
        while j >= 0:
            if not any(a <= j < b for a, b in lits):
                k = j - 1
                while k >= 0 and text[k].isspace():
                    k -= 1
                if k >= 0 and (text[k].isalnum() or text[k] in ")'\"_]"):
                    pos = j
                    break
            j = text.find("/", j + 1)
        if pos < 0:
            break
        lhs_start = _pg_div_chain_start(text, pos)
        lhs = text[lhs_start:pos].rstrip()
        rhs_end = _pg_operand_end(text, pos + 1)
        rhs = text[pos + 1 : rhs_end].strip()
        ca = _pg_div_class(lhs, column_types)
        cb = _pg_div_class(rhs, column_types)
        if ca[0] == "frac" or cb[0] == "frac":
            # one side provably fractional — PG division keeps the
            # fraction whatever the other side is; Spark matches
            offset = pos + 1
            continue
        if ca[0] == "unknown" or cb[0] == "unknown":
            bad = lhs if ca[0] == "unknown" else rhs
            raise ValueError(
                f"PG '/' with an unprovable operand type ({bad!r}): "
                "PG truncates integer division (7/2 = 3) while "
                "Spark's '/' is always fractional — cast a side "
                "explicitly (::numeric for fractional, ::int/::bigint "
                "for truncating) so the semantics are decidable; "
                "refusing rather than silently diverging"
            )
        repl = f"(({lhs}) div ({rhs}))"
        text = text[:lhs_start] + repl + text[rhs_end:]
        offset = lhs_start + len(repl)
    return text


def run_pg_sql(spark, text: str, params: list[Any] | dict[str, Any] | None = None):
    """Translate + execute a Postgres-dialect query. ``params`` may be
    the PG positional list (``[v1, v2]`` binds ``$1``, ``$2``) or an
    already-named dict. A parameterized jsonb containment probe
    (``payload @> $1``) is inlined at translate time from these same
    values (the bind-time expansion); Spark ignores the then-unused
    marker in ``args``."""
    if isinstance(params, (list, tuple)):
        params = {f"p{i + 1}": v for i, v in enumerate(params)}
    # the '/' fidelity pass needs provable operand types — resolve the
    # statement's tables against the session catalog (only when a '/'
    # is present at all; a literal-embedded '/' costs one no-op probe)
    coltypes = _pg_column_types(spark, text) if "/" in text else None
    sql = translate_pg_sql(text, params=params, column_types=coltypes)
    if params:
        # a probe inlined at translate time leaves no :pN marker —
        # don't hand its (possibly dict-typed) value to spark.sql
        import re as _re

        used = set(_re.findall(r":(p\d+)\b", sql))
        params = {k: v for k, v in params.items() if k in used}
    return spark.sql(sql, args=params) if params else spark.sql(sql)
