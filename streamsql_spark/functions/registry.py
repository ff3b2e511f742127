"""StreamSQL → Spark SQL function registry.

Maps every scalar/aggregate function of the reference engine
(rulego/streamsql ``functions/builtin.go:6-179``) onto Spark SQL
expression text, staying JVM-side (Catalyst builtins, whole-stage
codegen) — no Python UDFs in the hot path.

A renderer takes the already-rendered Spark-SQL argument fragments
(plus the raw AST args for literal-folding decisions) and returns a
Spark SQL fragment.  Unlisted functions pass through verbatim, so any
function Spark itself knows (``xxhash64``, ``levenshtein``, …) is
usable from the dialect for free.

Dialect deviations handled here (with reference citations):
- ``log``  is base-10 (functions_math.go:419) → ``log10``.
- ``substring`` is 0-based, Go-style (functions_string.go:295-304).
- ``indexof`` is 0-based ``strings.Index`` (functions_string.go:271).
- ``percentile(p, col)`` takes p FIRST and uses the lower value at
  index ``floor(p*(n-1))`` (functions_aggregation.go:518-555).
- ``format(v,'0.00')`` is printf-style, no thousands separators
  (functions_string.go:156-208) → ``format_string``.
- ``date_format``/``date_parse`` accept YYYY/MM/DD/HH/MI/SS-style
  tokens (functions_datetime.go:338-368) → translated to JVM patterns.
- ``merge_agg`` joins with "," (functions_aggregation.go:746-760).
"""

from __future__ import annotations

from typing import Callable

from ..dialect import nodes as N

Renderer = Callable[[list[str], list[N.Expr]], str]

# --------------------------------------------------------------- helpers


def _lit_str(e: N.Expr) -> str | None:
    if isinstance(e, N.Lit) and e.is_string:
        return str(e.value)
    return None


def _sql_str(value: str) -> str:
    """Escape an arbitrary string into a Spark SQL string literal (same
    contract as dialect.render.sql_string — kept local to avoid the
    circular import)."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _lit_num(e: N.Expr):
    if isinstance(e, N.Lit) and isinstance(e.value, (int, float)) and not isinstance(e.value, bool):
        return e.value
    return None


def go_format_to_java(fmt: str) -> str:
    """Translate the reference's date tokens to a JVM datetime pattern.

    Mirrors convertToGoFormat (functions_datetime.go:338-368): uppercase
    ``MM``=month / lowercase ``mm``=minute, ``MI``=minute, ``DD``/``dd``=day,
    ``HH``/``hh``=24-hour, ``SS``/``ss``=second.
    """
    out = []
    i = 0
    repl = [  # longest-first
        ("YYYY", "yyyy"), ("yyyy", "yyyy"), ("MI", "mm"), ("mi", "mm"),
        ("YY", "yy"), ("yy", "yy"), ("MM", "MM"), ("mm", "mm"),
        ("DD", "dd"), ("dd", "dd"), ("HH", "HH"), ("hh", "HH"),
        ("SS", "ss"), ("ss", "ss"),
    ]
    while i < len(fmt):
        for old, new in repl:
            if fmt.startswith(old, i):
                out.append(new)
                i += len(old)
                break
        else:
            ch = fmt[i]
            # quote any literal letter so Java patterns don't misread it
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


_CAST_TYPES = {
    "int": "INT", "int32": "INT", "integer": "INT",
    "int64": "BIGINT", "bigint": "BIGINT", "long": "BIGINT",
    "float": "DOUBLE", "float64": "DOUBLE", "double": "DOUBLE",
    "float32": "FLOAT",
    "string": "STRING", "varchar": "STRING", "text": "STRING",
    "bool": "BOOLEAN", "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP", "time": "TIMESTAMP", "datetime": "TIMESTAMP",
    "date": "DATE",
    "decimal": "DECIMAL(38,18)",
}


def _render_cast(args: list[str], ast: list[N.Expr]) -> str:
    ty = (_lit_str(ast[1]) or "string").lower() if len(ast) > 1 else "string"
    spark_ty = _CAST_TYPES.get(ty, ty.upper())
    return f"CAST({args[0]} AS {spark_ty})"


def _render_substring(args: list[str], ast: list[N.Expr]) -> str:
    # 0-based Go semantics → Spark 1-based; negative start passes through
    # (both count from the end with the same meaning).
    start_lit = _lit_num(ast[1]) if len(ast) > 1 else None
    if start_lit is not None:
        start_sql = str(int(start_lit) + 1) if start_lit >= 0 else str(int(start_lit))
    else:
        s = args[1]
        start_sql = f"(CASE WHEN ({s}) >= 0 THEN ({s})+1 ELSE ({s}) END)"
    if len(args) == 3:
        return f"substring({args[0]}, {start_sql}, {args[2]})"
    return f"substring({args[0]}, {start_sql})"


def _render_trunc(args: list[str], ast: list[N.Expr]) -> str:
    # numeric truncate-toward-zero (functions_conversion.go:443)
    x = args[0]
    n = args[1] if len(args) > 1 else "0"
    p = f"pow(10, {n})"
    return (f"(CASE WHEN ({x}) >= 0 THEN floor(({x})*{p}) "
            f"ELSE ceil(({x})*{p}) END / {p})")


def _render_encode(args: list[str], ast: list[N.Expr]) -> str:
    # exactly (value, format) — NewBaseFunction("encode", ..., 2, 2)
    if len(ast) != 2:
        raise ValueError(f"wrong argument count: expected 2, got {len(ast)}")
    fmt = (_lit_str(ast[1]) or "base64").lower()
    if fmt == "base64":
        return f"base64(CAST({args[0]} AS BINARY))"
    if fmt == "hex":
        return f"lower(hex(CAST({args[0]} AS BINARY)))"
    if fmt == "url":
        return f"url_encode({args[0]})"
    raise ValueError(f"unsupported encode format: {fmt}")


def _render_decode(args: list[str], ast: list[N.Expr]) -> str:
    if len(ast) != 2:
        raise ValueError(f"wrong argument count: expected 2, got {len(ast)}")
    fmt = (_lit_str(ast[1]) or "base64").lower()
    if fmt == "base64":
        return f"CAST(unbase64({args[0]}) AS STRING)"
    if fmt == "hex":
        return f"CAST(unhex({args[0]}) AS STRING)"
    if fmt == "url":
        return f"url_decode({args[0]})"
    raise ValueError(f"unsupported decode format: {fmt}")


def format_digits(pattern: str | None) -> int:
    """Digit count for format()'s printf rendering — ONE implementation
    shared with the per-event path (dialect/pyeval._compile_format):
    default 2, '0' means 0, else count after the first dot."""
    if pattern is not None and "." in pattern:
        return len(pattern.split(".", 1)[1])
    if pattern == "0":
        return 0
    return 2


def _render_format(args: list[str], ast: list[N.Expr]) -> str:
    if len(args) == 1:
        return f"CAST({args[0]} AS STRING)"
    digits = format_digits(_lit_str(ast[1]))
    return f"format_string('%.{digits}f', CAST({args[0]} AS DOUBLE))"


def _render_date_format(args: list[str], ast: list[N.Expr]) -> str:
    pat = _lit_str(ast[1])
    if pat is not None:
        # sql_string, not bare quotes: go_format_to_java single-quotes
        # literal letters ('T' in ISO-8601 patterns), which would
        # otherwise terminate the SQL string literal mid-pattern
        return f"date_format({args[0]}, {_sql_str(go_format_to_java(pat))})"
    return f"date_format({args[0]}, {args[1]})"


def _render_date_parse(args: list[str], ast: list[N.Expr]) -> str:
    pat = _lit_str(ast[1])
    if pat is not None:
        return f"to_timestamp({args[0]}, {_sql_str(go_format_to_java(pat))})"
    return f"to_timestamp({args[0]}, {args[1]})"


def _render_json_extract(args: list[str], ast: list[N.Expr]) -> str:
    path = _lit_str(ast[1])
    if path is not None:
        jpath = path if path.startswith("$") else "$." + path
        return f"get_json_object({args[0]}, {_sql_str(jpath)})"
    return f"get_json_object({args[0]}, concat('$.', {args[1]}))"


_TS_UNITS = {"year", "years", "month", "months", "day", "days",
             "hour", "hours", "minute", "minutes", "second", "seconds",
             "week", "weeks", "quarter", "millisecond", "milliseconds",
             "microsecond", "microseconds"}


def _ts_unit(e: N.Expr, default: str = "day") -> str:
    u = (_lit_str(e) or default).lower().rstrip("s") or "day"
    if u == "year":
        return "YEAR"
    return {"month": "MONTH", "day": "DAY", "hour": "HOUR", "minute": "MINUTE",
            "second": "SECOND", "week": "WEEK", "quarter": "QUARTER",
            "millisecond": "MILLISECOND", "microsecond": "MICROSECOND"}.get(u, "DAY")


def _render_date_add(args: list[str], ast: list[N.Expr]) -> str:
    # date_add(date, interval, unit) — functions_datetime.go:101-163
    unit = _ts_unit(ast[2]) if len(ast) > 2 else "DAY"
    return f"timestampadd({unit}, CAST({args[1]} AS BIGINT), CAST({args[0]} AS TIMESTAMP))"


def _render_date_sub(args: list[str], ast: list[N.Expr]) -> str:
    unit = _ts_unit(ast[2]) if len(ast) > 2 else "DAY"
    return f"timestampadd({unit}, -CAST({args[1]} AS BIGINT), CAST({args[0]} AS TIMESTAMP))"


def _render_date_diff(args: list[str], ast: list[N.Expr]) -> str:
    # date_diff(d1, d2, unit) → d1 - d2 in unit
    unit = _ts_unit(ast[2]) if len(ast) > 2 else "DAY"
    return (f"timestampdiff({unit}, CAST({args[1]} AS TIMESTAMP), "
            f"CAST({args[0]} AS TIMESTAMP))")


def _render_extract(args: list[str], ast: list[N.Expr]) -> str:
    # extract(unit, date) — functions_datetime.go:410-455; Go weekday 0=Sunday
    unit = (_lit_str(ast[0]) or "year").lower()
    t = f"CAST({args[1]} AS TIMESTAMP)"
    m = {"year": f"year({t})", "month": f"month({t})", "day": f"day({t})",
         "hour": f"hour({t})", "minute": f"minute({t})", "second": f"second({t})",
         "weekday": f"(dayofweek({t}) - 1)", "yearday": f"dayofyear({t})"}
    if unit not in m:
        raise ValueError(f"unsupported extract unit: {unit}")
    return m[unit]


def _render_convert_tz(args: list[str], ast: list[N.Expr]) -> str:
    if len(args) == 2:
        return f"from_utc_timestamp(CAST({args[0]} AS TIMESTAMP), {args[1]})"
    return f"convert_timezone({args[1]}, {args[2]}, CAST({args[0]} AS TIMESTAMP))"


def _render_concat(args: list[str], ast: list[N.Expr]) -> str:
    """concat = join of ToStringE(arg) with nil -> "" (functions_string.
    go:27-37): concat('a', NULL) is 'a', and numeric args stringify.
    concat_ws('') gives the nil-skip; the CASTs give the stringify."""
    if not args:
        return "''"
    parts = ", ".join(f"CAST({a} AS STRING)" for a in args)
    return f"concat_ws('', {parts})"


def _simple(template: str) -> Renderer:
    # exact arity = highest placeholder index + 1: surplus arguments
    # must REJECT, not silently vanish (sum(price, 1) rendering as
    # sum(price) returns plausible-but-wrong results for a typo'd
    # query), and missing ones get a named error instead of a raw
    # IndexError out of str.format
    import re as _re
    n_args = max((int(m) + 1
                  for m in _re.findall(r"\{(\d+)\}", template)), default=0)

    def r(args: list[str], ast: list[N.Expr]) -> str:
        if len(args) != n_args:
            # the DIALECT name is prefixed by render_scalar /
            # render_aggregate — the template's leading text may be a
            # paren or the Spark-side name, useless in a user message
            raise ValueError(
                f"wrong argument count: expected {n_args}, "
                f"got {len(args)}")
        return template.format(*args)
    return r


# ------------------------------------------------------- scalar registry

SCALAR_RENDERERS: dict[str, Renderer] = {
    # math (functions_math.go) — log is base-10 in the reference
    "log": _simple("log10({0})"),
    "ceiling": _simple("ceiling({0})"),
    "mod": _simple("mod({0}, {1})"),
    "power": _simple("power({0}, {1})"),
    "pow": _simple("power({0}, {1})"),
    "sign": _simple("signum({0})"),
    "bitand": _simple("({0} & {1})"),
    "bitor": _simple("({0} | {1})"),
    "bitxor": _simple("({0} ^ {1})"),
    "bitnot": _simple("(~{0})"),
    # string (functions_string.go)
    # len/length below (polymorphic: strings AND arrays,
    # functions_string.go:46)
    # concat is the reference's ToStringE-and-join (functions_string.
    # go:27-37): every arg casts to string and nil contributes "" —
    # bare Spark concat would instead NULL the whole result on any
    # NULL arg
    "concat": _render_concat,
    # trim family strips WHITESPACE — Spark's bare trim strips spaces
    # only.  trim = Go strings.TrimSpace (functions_string.go:141-146):
    # the FULL unicode.IsSpace set: Latin-1 whitespace plus the
    # Unicode White_Space property (U+1680, U+2000-200A, U+2028/29,
    # U+202F, U+205F, U+3000) - closes the README-noted delta (r7).
    # ltrim/rtrim use the reference's EXPLICIT 4-char predicate
    # (functions_string.go:527-560).
    "trim": _simple("trim(BOTH ' \\t\\n\\r                 　' "
                    "FROM {0})"),
    "ltrim": _simple(r"trim(LEADING ' \t\n\r' FROM {0})"),
    "rtrim": _simple(r"trim(TRAILING ' \t\n\r' FROM {0})"),
    "indexof": _simple("(instr({0}, {1}) - 1)"),
    "substring": _render_substring,
    "format": _render_format,
    "regexp_matches": _simple("regexp_like({0}, {1})"),
    "regexp_substring": _simple("regexp_extract({0}, {1}, 0)"),
    "endswith": _simple("endswith({0}, {1})"),
    "startswith": _simple("startswith({0}, {1})"),
    # conversion (functions_conversion.go)
    "cast": _render_cast,
    "hex2dec": _simple("CAST(conv({0}, 16, 10) AS BIGINT)"),
    "dec2hex": _simple("lower(hex(CAST({0} AS BIGINT)))"),
    "encode": _render_encode,
    "decode": _render_decode,
    "to_seconds": _simple("unix_timestamp(CAST({0} AS TIMESTAMP))"),
    # chr rejects codes outside ASCII 0..127 (functions_conversion.go:
    # 362-369 errors; the e2e contract accepts error-or-nil, and a
    # rendered column can't raise per-row) — NULL for out-of-range.
    # The transform-lambda binds the argument ONCE: a CASE that
    # splices {0} twice would double-evaluate it, observably wrong for
    # nondeterministic args (guard sees one rand() draw, char another)
    "chr": _simple("element_at(transform(array({0}), __v -> "
                   "CASE WHEN __v BETWEEN 0 AND 127 "
                   "THEN char(__v) END), 1)"),
    "trunc": _render_trunc,
    "url_encode": _simple("url_encode({0})"),
    "url_decode": _simple("url_decode({0})"),
    # datetime (functions_datetime.go)
    "now": _simple("current_timestamp()"),
    "current_time": _simple("date_format(current_timestamp(), 'HH:mm:ss')"),
    "current_date": _simple("current_date()"),
    "date_add": _render_date_add,
    "date_sub": _render_date_sub,
    "date_diff": _render_date_diff,
    "date_format": _render_date_format,
    "date_parse": _render_date_parse,
    "extract": _render_extract,
    "unix_timestamp": lambda a, t: "unix_timestamp()" if not a else f"unix_timestamp(CAST({a[0]} AS TIMESTAMP))",
    "from_unixtime": _simple("from_unixtime({0})"),
    "day": _simple("dayofmonth({0})"),
    # Go Weekday(): Sunday=0..Saturday=6 (functions_datetime.go:742) —
    # Spark's dayofweek is Sunday=1, so shift (same mapping as
    # extract('weekday', ...) above)
    "dayofweek": _simple("(dayofweek({0}) - 1)"),
    "convert_tz": _render_convert_tz,
    # json (functions_json.go)
    # from_json parses arbitrary JSON dynamically (functions_json.go:
    # 40-62 json.Unmarshal to any) — Spark 4's VARIANT is exactly that;
    # the facade delivery layer converts VariantVal → python containers
    "from_json": _simple("parse_json({0})"),
    "json_extract": _render_json_extract,
    "json_valid": _simple("(try_parse_json({0}) IS NOT NULL)"),
    # whitespace-robust prefix checks (JSON allows leading \t\n\r, which
    # Spark's bare trim doesn't strip); unparseable input -> 'invalid'
    # exactly like the reference's Unmarshal-error branch
    # (functions_json.go:176-178)
    "json_type": _simple(
        "(CASE WHEN {0} IS NULL THEN NULL"
        " WHEN try_parse_json({0}) IS NULL THEN 'invalid'"
        " WHEN trim(BOTH ' \\t\\n\\r' FROM {0}) = 'null' THEN 'null'"
        " WHEN startswith(trim(BOTH ' \\t\\n\\r' FROM {0}), '{{') THEN 'object'"
        " WHEN startswith(trim(BOTH ' \\t\\n\\r' FROM {0}), '[') THEN 'array'"
        " WHEN startswith(trim(BOTH ' \\t\\n\\r' FROM {0}), '\"') THEN 'string'"
        " WHEN trim(BOTH ' \\t\\n\\r' FROM {0}) IN ('true','false') THEN 'boolean'"
        " WHEN try_cast(trim(BOTH ' \\t\\n\\r' FROM {0}) AS DOUBLE) IS NOT NULL THEN 'number'"
        " ELSE 'invalid' END)"
    ),
    "json_length": _simple(
        "(CASE WHEN startswith(trim(BOTH ' \\t\\n\\r' FROM {0}), '[')"
        " THEN json_array_length({0})"
        " WHEN startswith(trim(BOTH ' \\t\\n\\r' FROM {0}), '{{')"
        " THEN size(json_object_keys({0}))"
        " ELSE NULL END)"
    ),
    # hash (functions_hash.go)
    "sha256": _simple("sha2({0}, 256)"),
    "sha512": _simple("sha2({0}, 512)"),
    # array (functions_array.go)
    "array_length": _simple("size({0})"),
    # type checks (functions_type.go)
    "is_null": _simple("({0} IS NULL)"),
    "is_not_null": _simple("({0} IS NOT NULL)"),
    "is_numeric": _simple("(try_cast(CAST({0} AS STRING) AS DOUBLE) IS NOT NULL)"),
    "is_string": _simple("(typeof({0}) = 'string')"),
    "is_bool": _simple("(typeof({0}) = 'boolean')"),
    "is_array": _simple("startswith(typeof({0}), 'array')"),
    "is_object": _simple("(startswith(typeof({0}), 'map') OR startswith(typeof({0}), 'struct'))"),
    # conditional (functions_conditional.go)
    "if_null": _simple("ifnull({0}, {1})"),
    "null_if": _simple("nullif({0}, {1})"),
}


def _render_nil_prop_extreme(agg_fn: str):
    """greatest/least propagate nil: ANY nil argument → nil
    (functions_conditional.go:104-136; e2e asserts
    greatest(1, NULL, 3) IS NULL) — Spark's builtins instead SKIP
    nulls.  The transform-lambda binds the argument array ONCE (a
    CASE splicing every arg into both an IS NULL chain and the
    function call would evaluate each arg twice — observably wrong
    for nondeterministic args); array_max/array_min ignore nulls,
    which the any-null guard has already excluded."""
    arr_fn = "array_max" if agg_fn == "greatest" else "array_min"

    def render(args: list[str], ast: list[N.Expr]) -> str:
        if not args:
            raise ValueError("wrong argument count: expected at least 1, "
                             "got 0")
        if len(args) == 1:
            return f"({args[0]})"  # extreme of one value is itself
        return ("element_at(transform(array(array("
                f"{', '.join(args)})), __a -> "
                "CASE WHEN NOT array_contains(transform(__a, "
                "__x -> __x IS NULL), true) "
                f"THEN {arr_fn}(__a) END), 1)")
    return render


SCALAR_RENDERERS["greatest"] = _render_nil_prop_extreme("greatest")
SCALAR_RENDERERS["least"] = _render_nil_prop_extreme("least")


def _render_case_when(args: list[str], ast: list[N.Expr]) -> str:
    parts = ["CASE"]
    i = 0
    while i + 1 < len(args):
        parts.append(f"WHEN {args[i]} THEN {args[i+1]}")
        i += 2
    if i < len(args):
        parts.append(f"ELSE {args[i]}")
    parts.append("END")
    return " ".join(parts)


SCALAR_RENDERERS["case_when"] = _render_case_when


_REGEX_META = set("\\^$.|?*+()[]{}")


def _render_split(args: list[str], ast: list[N.Expr]) -> str:
    """Reference split is strings.Split — a LITERAL delimiter
    (functions_string.go:408-418) — while Spark's split takes a regex:
    split(s, '.') or split(s, '|') would silently explode per-char.
    Literal delimiters get their metacharacters escaped; a runtime
    delimiter expression is wrapped in \\Q...\\E (Pattern.quote)."""
    d = _lit_str(ast[1]) if len(ast) > 1 else None
    if d is not None:
        esc = "".join(("\\" + c) if c in _REGEX_META else c for c in d)
        return f"split({args[0]}, {_sql_str(esc)})"
    return f"split({args[0]}, concat('\\\\Q', {args[1]}, '\\\\E'))"


SCALAR_RENDERERS["split"] = _render_split


_ARRAY_FUNCS = {
    "split", "string_split", "array", "sequence", "slice", "transform",
    "filter", "regexp_extract_all", "array_distinct", "array_union",
    "array_intersect", "array_except", "array_remove", "array_repeat",
    "map_keys", "map_values",
}


def _render_len(args: list[str], ast: list[N.Expr]) -> str:
    """len/length is polymorphic in the reference — strings AND arrays
    (functions_string.go:46).  Spark splits that into length() vs
    cardinality(); branch on the argument's producing function (an
    array column of unknown provenance still needs array_length)."""
    a = ast[0] if ast else None
    if isinstance(a, N.Func) and a.name.lower() in _ARRAY_FUNCS:
        return f"cardinality({args[0]})"
    return f"length({args[0]})"


SCALAR_RENDERERS["len"] = _render_len
SCALAR_RENDERERS["length"] = _render_len


def _render_to_json(args: list[str], ast: list[N.Expr]) -> str:
    """Reference to_json is json.Marshal of ANY value — scalars and
    NULL included (functions_json.go:26-33: to_json('x') -> '\"x\"',
    to_json(nil) -> 'null') — while Spark's to_json only accepts
    struct/map/array.  Wrapping in named_struct('v', x) makes every
    type marshalable; stripping the 5-char '{\"v\":' prefix and '}'
    suffix leaves exactly the value's JSON.  ignoreNullFields=false
    matches Marshal emitting nulls."""
    inner = (f"to_json(named_struct('v', {args[0]}), "
             f"map('ignoreNullFields', 'false'))")
    # bind the serialization ONCE via a lambda — repeating {inner} in
    # both substring args would serialize the value twice per row (CSE
    # is not guaranteed outside whole-stage codegen)
    return (f"element_at(transform(array({inner}), "
            f"s -> substring(s, 6, length(s) - 6)), 1)")


def _render_expr_escape(args: list[str], ast: list[N.Expr]) -> str:
    """``expr('value * 2 + 1')`` — the reference's runtime expression
    escape hatch (functions_expr.go:16-100).  The literal string is
    parsed with the dialect grammar and inlined, so function-name
    deviations (log, substring, …) apply inside it; Catalyst then
    compiles it like any other expression."""
    inner = _lit_str(ast[0])
    if inner is None:
        raise ValueError("expr() requires a string-literal expression")
    from ..dialect import render as R
    from ..dialect.parser import parse

    node = parse(f"SELECT {inner} AS __e__ FROM stream").fields[0].expr
    return f"({R.Renderer().render(node)})"


SCALAR_RENDERERS["expr"] = _render_expr_escape
# "expression" is the reference's long-name alias for the same escape
# hatch (functions_expr.go NewBaseFunction("expression", ...))
SCALAR_RENDERERS["expression"] = _render_expr_escape
SCALAR_RENDERERS["to_json"] = _render_to_json


# ---------------------------------------------------- aggregate registry

def _render_percentile(args: list[str], ast: list[N.Expr]) -> str:
    # reference: percentile(p, col), lower value at floor(p*(n-1)).
    # Exact-parity expression; at scale prefer approx_percentile (see
    # operators/scale notes) — this one buffers the group like the reference.
    p, col = args[0], args[1]
    # greatest(idx, 1): an all-NULL group has count=0, making the raw
    # index 0 — an ILLEGAL argument even for try_element_at
    # (INVALID_INDEX_OF_ZERO kills the task); clamped to 1 the empty
    # buffer reads NULL, matching the kernel's empty-values None
    return (f"try_element_at(array_sort(collect_list({col})), "
            f"greatest(CAST(floor(({p}) * (count({col}) - 1)) AS INT)"
            f" + 1, 1))")


# arrival-ordered value buffer: collect (order, value) pairs, sort by
# arrival, strip the order key — deterministic collect/nth/merge/dedup.
# The sort comparator reads ONLY the order key: the default struct
# comparison would also order by the VALUE (a tie-break the reference's
# arrival buffer doesn't have) and rejects non-orderable value types
# outright (maps — INVALID_ORDERING_TYPE), while arrival keys are
# unique by construction so no tie-break is ever needed.
_ARRIVAL_LIST = ("transform(array_sort(collect_list("
                 "struct(`__arrival_order__` AS o, {0} AS v)), "
                 "(a, b) -> CASE WHEN a.o < b.o THEN -1 "
                 "WHEN a.o > b.o THEN 1 ELSE 0 END), s -> s.v)")
_ARRIVAL_LIST_STR = _ARRIVAL_LIST.replace("{0} AS v", "CAST({0} AS STRING) AS v")


def _render_deduplicate(args: list[str], ast: list[N.Expr]) -> str:
    """Reference arity is (1, unbounded): NewBaseFunction("deduplicate",
    ..., 1, -1) validates extra args, but the incremental aggregator's
    Add() consumes only the per-row first value
    (functions_aggregation.go:1556,1578) — extras are accepted and
    ignored, e.g. the docs' deduplicate(temperature, true)."""
    if not args:
        raise ValueError("wrong argument count: expected at least 1, got 0")
    return f"array_distinct({_ARRIVAL_LIST.format(args[0])})"

AGG_RENDERERS: dict[str, Renderer] = {
    "sum": _simple("sum({0})"),
    "avg": _simple("avg({0})"),
    "min": _simple("min({0})"),
    "max": _simple("max({0})"),
    "count": lambda a, t: "count(*)" if not a or isinstance(t[0], N.Star) else f"count({a[0]})",
    "stddev": _simple("stddev_pop({0})"),
    "stddevs": _simple("stddev_samp({0})"),
    "var": _simple("var_pop({0})"),
    "vars": _simple("var_samp({0})"),
    "median": _simple("median({0})"),
    "percentile": _render_percentile,
    # Buffer-order aggregates are ARRIVAL (event-time) ordered, the
    # reference semantics (functions_aggregation.go:564-811).
    # `__arrival_order__` is materialized by the executors as
    # struct(event_time, tiebreak) — sorting/arg-extremizing over it is
    # deterministic after any shuffle, unlike Spark's first()/last()
    # or raw collect_list order.
    "collect": _simple(_ARRIVAL_LIST),
    "first_value": _simple("min_by({0}, `__arrival_order__`)"),
    "last_value": _simple("max_by({0}, `__arrival_order__`)"),
    "merge_agg": _simple(f"concat_ws(',', {_ARRIVAL_LIST_STR})"),
    "deduplicate": _render_deduplicate,
    # n < 1 reads NULL like the kernel's 0 < n guard (aggutil.py) —
    # try_element_at still raises INVALID_INDEX_OF_ZERO on index 0,
    # and a negative index would read from the END where the kernel
    # reads nothing
    "nth_value": _simple("if(({1}) >= 1, "
                         f"try_element_at({_ARRIVAL_LIST}, "
                         "CAST(({1}) AS INT)), NULL)"),
    # Spark-native extras (beyond the reference — free on Catalyst).
    # min_by/max_by give deterministic first/last-by-event-time.
    "approx_count_distinct": _simple("approx_count_distinct({0})"),
    "count_distinct": _simple("count(DISTINCT {0})"),
    "min_by": _simple("min_by({0}, {1})"),
    "max_by": _simple("max_by({0}, {1})"),
    "any_value": _simple("any_value({0})"),
    "corr": _simple("corr({0}, {1})"),
    "covar_pop": _simple("covar_pop({0}, {1})"),
    "covar_samp": _simple("covar_samp({0}, {1})"),
    "skewness": _simple("skewness({0})"),
    "kurtosis": _simple("kurtosis({0})"),
    "count_if": _simple("count_if({0})"),
    "bool_and": _simple("bool_and({0})"),
    "bool_or": _simple("bool_or({0})"),
}

# window-context aggregates (functions_window.go:15-113) — resolved by the
# planner to the window struct column, listed here for classification.
WINDOW_CONTEXT_FUNCS = {"window_start", "window_end"}

# stateful analytic functions (§2.6) — compiled by the analytic operator,
# not rendered as plain SQL.
ANALYTIC_FUNCS = {
    "lag", "latest", "had_changed", "changed_col", "changed_cols",
    "acc_sum", "acc_max", "acc_min", "acc_count", "acc_avg",
}

# multi-row (UDTF-style) functions — fan out rows (functions_multirow.go)
MULTIROW_FUNCS = {"unnest"}


# ------------------------------------------------ custom function support

_CUSTOM_SCALARS: dict[str, "object"] = {}


def register_function(spark, name: str, fn, return_type="string") -> None:
    """Runtime scalar-UDF registration mirroring the reference's
    ``RegisterCustomFunction`` (functions/registry.go:239-288).

    The UDF becomes callable from the dialect immediately (pass-through
    rendering finds it in Spark's function registry).  Python UDFs are
    the slow path — prefer contributing a SQL-expression renderer.
    """
    from pyspark.sql.types import _parse_datatype_string

    dt = return_type if not isinstance(return_type, str) else _parse_datatype_string(return_type)
    spark.udf.register(name, fn, dt)
    # (fn, declared type): the per-event python path calls the same
    # callable in-process (dialect/pyeval.py) and needs the declared
    # type to apply Spark's result-type contract
    _CUSTOM_SCALARS[name.lower()] = (fn, dt)


def custom_scalar(name: str):
    """(fn, return_type) for a runtime-registered scalar UDF."""
    return _CUSTOM_SCALARS.get(name.lower())


def register_aggregate_function(spark, name: str, fn, return_type="double") -> None:
    """Runtime UDAF registration — the reference's custom
    ``AggregatorFunction`` surface (functions/aggregator_interface.go:5-18).

    ``fn(values: pandas.Series) -> scalar`` runs as an Arrow-batched
    grouped-agg pandas UDF (partial batches per group, JVM-side
    grouping); becomes callable in dialect GROUP BY queries immediately.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import _parse_datatype_string

    dt = return_type if not isinstance(return_type, str) \
        else _parse_datatype_string(return_type)

    def agg(values):
        return fn(values)
    # Series -> scalar type hints select the grouped-agg pandas UDF
    agg.__annotations__ = {"values": pd.Series, "return": object}
    udaf = pandas_udf(agg, dt)
    spark.udf.register(name, udaf)
    AGG_RENDERERS[name.lower()] = _simple(f"{name}({{0}})")


_CUSTOM_ANALYTICS: dict[str, tuple] = {}


def register_analytic_function(name: str, state_factory, return_type="double") -> None:
    """Custom stateful analytic registration — the reference's
    ``StatefulAnalytic`` / ``AnalyticState`` surface
    (functions/analytic_state.go:11-37, registry.go TypeAnalytical):
    ``state_factory()`` returns a fresh state object exposing
    ``apply(args) -> value`` (args[0] = main argument value, the rest
    are the extra call arguments) and, optionally, ``reset()``.  The
    engines keep ONE state per OVER(PARTITION BY ...) key and call
    ``apply`` once per row in event-time order — batch via an ordered
    ``applyInPandas`` pass, streaming via the analytic state kernel
    (state objects are pickled into the state store between
    micro-batches, so keep them picklable).

    A WHEN-gated-out row does not touch the state; it reads the last
    emitted value (the reference's OVER ... WHEN contract).
    """
    from pyspark.sql.types import _parse_datatype_string

    dt = return_type if not isinstance(return_type, str) \
        else _parse_datatype_string(return_type)
    _CUSTOM_ANALYTICS[name.lower()] = (state_factory, dt)


def custom_analytic(name: str):
    """(state_factory, return_type) for a registered custom analytic."""
    return _CUSTOM_ANALYTICS.get(name.lower())


def is_aggregate(name: str) -> bool:
    return name.lower() in AGG_RENDERERS


def is_analytic(name: str) -> bool:
    return name.lower() in ANALYTIC_FUNCS or name.lower() in _CUSTOM_ANALYTICS


def _edit_distance(a: str, b: str, cap: int = 3) -> int:
    """Optimal-string-alignment distance (adjacent transposition counts
    as ONE edit — 'latets'→'latest' is a classic function typo)."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    rows = [list(range(len(b) + 1))]
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            d = min(rows[-1][j] + 1, cur[-1] + 1,
                    rows[-1][j - 1] + (ca != cb))
            if i > 1 and j > 1 and ca == b[j - 2] and a[i - 2] == cb:
                d = min(d, rows[-2][j - 2] + 1)
            cur.append(d)
        if min(cur) > cap:
            return cap + 1
        rows.append(cur)
    return rows[-1][-1]


def known_function_names() -> set[str]:
    return (set(SCALAR_RENDERERS) | set(AGG_RENDERERS) | ANALYTIC_FUNCS
            | MULTIROW_FUNCS | WINDOW_CONTEXT_FUNCS
            | set(_CUSTOM_ANALYTICS) | set(_CUSTOM_SCALARS))


# per-row OVER window functions with no home in the aggregation model:
# the reference removed them from its registry outright
# (window_func_support_test.go:74-97 — "registered but not wired" must
# fail at Execute, not crash the data path); the dialect's stateful
# analytics (lag/latest/acc_*) and MATCH_RECOGNIZE cover their use
# cases.  expr() remains the escape hatch into raw Spark SQL.
PER_ROW_WINDOW_FNS = frozenset(
    {"row_number", "lead", "rank", "dense_rank", "ntile", "percent_rank",
     "cume_dist"})


def per_row_window_rejection(name: str) -> str | None:
    """Typed plan-time error for the removed per-row window functions
    (None when ``name`` is fine)."""
    lname = name.lower()
    if lname in PER_ROW_WINDOW_FNS and lname not in _CUSTOM_SCALARS \
            and lname not in _CUSTOM_ANALYTICS:
        return (f"{lname}() is not supported: per-row window functions "
                f"have no per-event/window-aggregation model here — use "
                f"the stateful analytics (lag/latest/acc_*), "
                f"MATCH_RECOGNIZE, or expr() for raw Spark SQL")
    return None


def unknown_function_suggestions(name: str) -> list[str] | None:
    """Parse/plan-time function-name validation with typo suggestions —
    the reference's function validator (rsql/function_validator.go,
    asserted by rsql/error_test.go).  Returns None when the name
    resolves (dialect registry, runtime-registered custom, or a
    PySpark builtin — unknown names pass through to Spark by design,
    SURVEY §2.8), else the close dialect names (possibly empty — an
    empty list means "unknown but no near-miss", which passes through
    so Spark's own analysis error surfaces)."""
    lname = name.lower()
    if lname in known_function_names():
        return None
    from pyspark.sql import functions as _sparkfns
    if hasattr(_sparkfns, lname):
        return None  # Spark builtin — legit pass-through
    close = sorted(k for k in known_function_names()
                   if _edit_distance(lname, k, 1) <= 1)
    return close


def render_scalar(name: str, args: list[str], ast: list[N.Expr]) -> str:
    r = SCALAR_RENDERERS.get(name.lower())
    if r is not None:
        try:
            return r(args, ast)
        except ValueError as e:
            raise ValueError(f"{name}(): {e}") from None
    # pass through: Spark-native or custom-registered function
    return f"{name}({', '.join(args)})"


def render_aggregate(name: str, args: list[str], ast: list[N.Expr]) -> str:
    r = AGG_RENDERERS.get(name.lower())
    if r is None:
        raise ValueError(f"unknown aggregate function: {name}")
    try:
        return r(args, ast)
    except ValueError as e:
        raise ValueError(f"{name}(): {e}") from None


# dialect aggregate -> Spark function usable under DISTINCT.  The
# dialect NAME MAPPING must apply here too (stddev -> stddev_pop etc.)
# — emitting the dialect name verbatim would silently flip pop/samp
# semantics.  Arrival-order aggregates (collect/first_value/last_value/
# nth_value/merge_agg/deduplicate) and the floor-index percentile have
# no meaningful distinct form and are rejected.
_DISTINCT_AGG_SQL = {
    "sum": "sum", "avg": "avg", "min": "min", "max": "max",
    "count": "count", "stddev": "stddev_pop", "stddevs": "stddev_samp",
    "var": "var_pop", "vars": "var_samp", "median": "median",
    "approx_count_distinct": "approx_count_distinct",
    "count_distinct": "count",
}


def render_aggregate_distinct(name: str, args: list[str],
                              ast: list[N.Expr]) -> str:
    lname = name.lower()
    spark_name = _DISTINCT_AGG_SQL.get(lname)
    if spark_name is None:
        raise ValueError(
            f"DISTINCT is not supported with {name}(): arrival-order "
            "and positional aggregates have no distinct form")
    if not args or (ast and isinstance(ast[0], N.Star)):
        raise ValueError(f"{name}(DISTINCT *) is not supported — "
                         "name the column")
    return f"{spark_name}(DISTINCT {', '.join(args)})"
