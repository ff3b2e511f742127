"""Pure-Python evaluation of the direct (per-event) path.

The reference evaluates each event in-process (its own expression
engine, ~micro-seconds per event).  The Spark-side fast path
(`facade._emit_sync_fast`) already avoids Spark JOBS, but still pays a
full `spark.sql` parse+analyze+fold round trip per event (~5-10 ms) —
three orders of magnitude off the per-event gateway latency class.

This module compiles the typed dialect AST of a plain
filter/projection query into Python closures evaluated directly on the
event dict — tens of microseconds per event — for a STRICT subset of
the dialect with byte-identical Spark semantics:

- literals, bare single-part columns, arithmetic (+ - * / % ^), string
  concat (||), comparisons with SQL three-valued logic, AND/OR/NOT,
  LIKE, IS [NOT] NULL, [NOT] IN, BETWEEN, CASE (simple + searched);
- nested dot/bracket paths (``a.b[0]['k']``, r10) over recursively
  type-homogeneous containers with every step present and a scalar
  leaf (mixed containers COERCE or RAISE under the Spark oracle's
  single-event schema inference — those events fall back), and
  ``json_extract`` with a literal dot/index path and a string-or-null
  leaf (other leaf kinds render engine-specifically — fall back);
- a scalar-function whitelist where Python can reproduce Spark's
  exact behavior: abs/upper/lower/length/len/trim/coalesce/concat/
  startswith/endswith/floor/ceil/sqrt/round half-up, the string family
  (substring/replace/pad/repeat/reverse/indexof), md5/sha256/sha512
  (hashes are exactly specified — transcendentals like exp/ln are NOT,
  so they stay on the Spark path), mod/power, int64 bit ops, and the
  null-handling aliases (nullif/ifnull/is_null/...).

ANYTHING uncertain bails out: unsupported node kinds fail at COMPILE
time (the query permanently uses the Spark path) and surprising value
type combinations raise :class:`Fallback` at RUNTIME (that one event
re-runs through the Spark path, which remains the semantics oracle).
A differential fuzz test pins python-path == spark-path on the
supported grammar.
"""

from __future__ import annotations

import base64 as _b64
import calendar
import datetime as _dt
import json as _json
import math
import re
import time as _time
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

from . import nodes as N


class Fallback(Exception):
    """Value combination outside the proven subset — re-evaluate this
    event through the Spark path."""


class ExprError(ValueError):
    """An expression outside the subset (at compile time) or a value
    combination outside it (at run time) on a caller with no Spark path
    to re-run the row on: CEP DEFINE/MEASURES and GLOBAL WINDOW
    TRIGGER WHEN.  Raised instead of reading the row as "no match" or
    "not fired"."""


@dataclass
class Slot(N.Expr):
    """A leaf whose value a caller computes: ``compile_expr`` uses
    ``fn(row)`` as the node's closure.  CEP navigation/aggregates and
    TRIGGER WHEN running aggregates become slots, so every operator and
    function around them keeps this module's semantics."""
    fn: object


def sql_text(e: N.Expr) -> str:
    """An expression's SQL for error messages (best effort)."""
    from .render import render

    try:
        return render(e, "allow")
    except ValueError:
        return type(e).__name__


def compile_strict(e: N.Expr, what: str):
    """``compile_expr`` for the callers without a Spark path: an
    uncompilable expression raises :class:`ExprError` now, and a
    runtime :class:`Fallback` raises it per row.  ``what`` names the
    expression in the message (e.g. ``"DEFINE A AS v > 1"``).  This is
    the only place the core treats its callers differently."""
    fn = compile_expr(N.transform(e, _jvm_float_args))
    if fn is None:
        raise ExprError(
            f"{what} is outside the in-process expression subset (the "
            "emit_sync pyeval surface)")

    def strict(row):
        try:
            return fn(row)
        except Fallback:
            raise ExprError(
                f"{what}: a value combination outside the "
                "in-process expression subset (e.g. mixed-type "
                "comparison, division by zero, NaN) — there is no Spark "
                "path to re-run this row on") from None
    return strict


def _jvm_float_args(e: N.Expr) -> N.Expr:
    """concat() stringifies floats on the JVM (CAST AS STRING), which
    the per-event path leaves to Spark; a compile_strict caller has no
    JVM, so float arguments arrive pre-formatted in Java layout."""
    if not (isinstance(e, N.Func) and e.name.lower() == "concat"):
        return e
    fns = [compile_expr(a) for a in e.args]
    if any(f is None for f in fns):
        return e  # the enclosing compile reports it

    def java_str(f):
        def arg(row):
            v = f(row)
            return _java_double_str(v) if isinstance(v, float) else v
        return arg
    return N.Func(e.name, [Slot(java_str(f)) for f in fns], e.distinct,
                  e.over)


_NUM = (int, float)
_I64_MIN, _I64_MAX = -(2 ** 63), 2 ** 63 - 1


def _num(v):
    if isinstance(v, bool) or not isinstance(v, _NUM):
        raise Fallback()
    if isinstance(v, int) and not _I64_MIN <= v <= _I64_MAX:
        # beyond BIGINT: Spark would have wrapped/errored long before —
        # Python's arbitrary precision must not silently diverge
        raise Fallback()
    return v


def _i64(r):
    """Guard an int RESULT to BIGINT range: Python's arbitrary-precision
    ints happily return 2^63, where Spark's BIGINT wraps or raises under
    ANSI — a silent semantic divergence.  Out-of-range ints re-route the
    event through the Spark semantics oracle."""
    if isinstance(r, int) and not isinstance(r, bool) \
            and not _I64_MIN <= r <= _I64_MAX:
        raise Fallback()
    return r


def _finite(v):
    """Numeric AND finite — NaN/Infinity semantics (ordering, equality,
    floor/round behavior) differ between Python and Spark, so
    non-finite values always take the Spark path."""
    v = _num(v)
    if isinstance(v, float) and not math.isfinite(v):
        raise Fallback()
    return v


def _arith(op: str, a, b):
    if a is None or b is None:
        return None
    a, b = _num(a), _num(b)
    if op == "+":
        return _i64(a + b)
    if op == "-":
        return _i64(a - b)
    if op == "*":
        return _i64(a * b)
    if op == "/":
        # Spark `/` is double division; x/0 handling is mode-dependent
        if b == 0:
            raise Fallback()
        return a / b
    if op == "%":
        # Spark mod takes the DIVIDEND's sign (Java %), unlike Python %
        if b == 0:
            raise Fallback()
        if isinstance(a, int) and isinstance(b, int):
            # exact integer truncated-division remainder — fmod would
            # lose precision past 2^53
            q = a // b
            if a % b != 0 and (a < 0) != (b < 0):
                q += 1
            return a - q * b
        a, b = _finite(a), _finite(b)
        return math.fmod(a, b)
    if op == "^":
        # exponentiation in the reference dialect (render.py:115);
        # 0^negative and negative^fractional have Java-specific
        # Infinity/NaN results — Spark path owns them
        try:
            r = float(_finite(a)) ** float(_finite(b))
        except (ZeroDivisionError, OverflowError):
            raise Fallback()
        if isinstance(r, complex) or not math.isfinite(r):
            raise Fallback()
        return r
    raise Fallback()


def _same_time_kind(a, b) -> bool:
    """Both timestamps (equally naive or zone-aware) or both dates:
    Python orders these as Spark does.  A date against a timestamp
    takes Spark's cast rules, so it stays outside."""
    if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime):
        return (a.tzinfo is None) == (b.tzinfo is None)
    return type(a) is type(b) is _dt.date


def _cmp(op: str, a, b):
    if a is None or b is None:
        return None
    bools = isinstance(a, bool), isinstance(b, bool)
    if any(bools):
        if not all(bools) or op not in ("=", "==", "!=", "<>"):
            raise Fallback()
    elif isinstance(a, _NUM) and isinstance(b, _NUM):
        # Spark orders NaN above everything and NaN = NaN is true —
        # IEEE Python disagrees, so NaN comparisons take the Spark path;
        # ±Infinity orders the same in both
        _num(a), _num(b)
        if a != a or b != b:
            raise Fallback()
    elif isinstance(a, str) and isinstance(b, str):
        pass
    elif not _same_time_kind(a, b):
        # mixed numeric/string comparison: Spark's implicit-cast rules
        # are subtle — not our problem to reimplement
        raise Fallback()
    if op in ("=", "=="):
        return a == b
    if op in ("!=", "<>"):
        return a != b
    if op == "<":
        return a < b
    if op == "<=":
        return a <= b
    if op == ">":
        return a > b
    if op == ">=":
        return a >= b
    raise Fallback()


def _and(a, b):
    if a is False or b is False:
        return False
    if a is None or b is None:
        return None
    return True


def _or(a, b):
    if a is True or b is True:
        return True
    if a is None or b is None:
        return None
    return False


def _truthy(v) -> bool:
    # WHERE semantics: NULL/UNKNOWN filters the row
    return v is True


def _like_regex(pattern: str) -> "re.Pattern | None":
    if "\\" in pattern:
        return None  # SQL LIKE escape sequences: Spark path owns them
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    # \Z, not $: Python's $ also matches just before a trailing
    # newline, so 'hello\n' would pass LIKE 'hel%o' where Spark
    # filters it — end-of-string must be exact
    return re.compile("^" + "".join(out) + r"\Z", re.DOTALL)


def _round_half_up(x, d=0):
    # compile_expr only admits round when the scale is an int LITERAL
    # (Spark rejects a non-foldable scale at analysis time), so d is
    # always a Python int here; x is the only runtime value.
    if x is None or d is None:
        return None
    if isinstance(d, bool) or not isinstance(d, int):
        raise Fallback()
    if isinstance(x, float) and not math.isfinite(x):
        return x  # Spark round(±Infinity/NaN) passes the value through
    x = _finite(x)
    q = Decimal(1).scaleb(-int(d))
    r = float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))
    if isinstance(x, int):
        # Spark's Round keeps the integral type for ANY scale: a
        # positive scale is a no-op on an int (round(5, 2) -> 5, an
        # int, not 5.0) — returning float here would diverge from the
        # oracle path's type
        return _i64(int(r))
    return r


def _str_arg(v):
    if v is None:
        return None
    if not isinstance(v, str):
        raise Fallback()
    return v


def _concat_op(a, b):
    """`x || y` — Spark concat: NULL if either side is NULL."""
    if a is None or b is None:
        return None
    return _str_arg(a) + _str_arg(b)


def _fn_concat(*vs):
    # reference ToStringE-and-join semantics (functions_string.go:27-37),
    # rendered Spark-side as concat_ws('', CAST(... AS STRING)...):
    # nil contributes "", ints/bools stringify; float formatting is
    # JVM-owned -> Fallback (same rule as _cast_string)
    return "".join("" if v is None else _CASTERS["string"](v) for v in vs)


def _same_class(vs):
    """Branch values must share a type class: Spark coerces mixed-type
    branches (coalesce/if/CASE) to a least common type at ANALYSIS
    time — e.g. an int branch beside a string branch yields strings —
    which a runtime evaluator cannot reproduce.  Homogeneous branches
    need no coercion; anything else falls back."""
    vals = [v for v in vs if v is not None]
    if not vals:
        return
    if all(isinstance(v, bool) for v in vals):
        return
    if all(isinstance(v, _NUM) and not isinstance(v, bool) for v in vals):
        return
    if all(isinstance(v, str) for v in vals):
        return
    raise Fallback()


def _fn_coalesce(*vs):
    _same_class(vs)
    for v in vs:
        if v is not None:
            return v
    return None


def _fn_replace(s, find, repl=""):
    if s is None or find is None or repl is None:
        return None
    s, find, repl = _str_arg(s), _str_arg(find), _str_arg(repl)
    if find == "":
        return s  # Spark: empty search leaves the input unchanged
    return s.replace(find, repl)


def _fn_pad(left: bool, s, n, pad):
    if s is None or n is None or pad is None:
        return None
    s, pad = _str_arg(s), _str_arg(pad)
    n = _num(n)
    if isinstance(n, float) or pad == "":
        raise Fallback()
    n = int(n)
    if n <= len(s):
        return s[:max(n, 0)]
    fill = (pad * ((n - len(s)) // len(pad) + 1))[: n - len(s)]
    return fill + s if left else s + fill


_ABSENT = object()  # distinguishes "no 3rd argument" from "3rd arg is NULL"


def _fn_substring(s, start, length=_ABSENT):
    # dialect substring is 0-based (registry._render_substring)
    if s is None or start is None:
        return None
    s = _str_arg(s)
    start = _num(start)
    if isinstance(start, float) or start < 0:
        raise Fallback()  # negative = count-from-end; Spark path owns it
    if length is _ABSENT:
        return s[int(start):]
    if length is None:
        return None  # Spark null-propagates a provided-but-NULL length
    length = _num(length)
    if isinstance(length, float):
        raise Fallback()
    if length <= 0:
        return ""
    return s[int(start):int(start) + int(length)]


def _fn_extreme(biggest: bool, *vs):
    # reference nil-propagation: ANY nil argument → nil
    # (functions_conditional.go:104-136) — the Spark path renders the
    # same any-null guard (registry._render_nil_prop_extreme), so the
    # two stay in lockstep
    if not vs or any(v is None for v in vs):
        return None
    vals = list(vs)
    if all(isinstance(v, _NUM) and not isinstance(v, bool) for v in vals):
        # NaN sorts above everything in Spark; Python's max/min is
        # argument-order-dependent with NaN — Spark path owns it
        for v in vals:
            _finite(v)
        return max(vals) if biggest else min(vals)
    if all(isinstance(v, str) for v in vals):
        return max(vals) if biggest else min(vals)
    raise Fallback()


def _fn_if(c, a, b):
    # Spark If: NULL condition takes the else branch; mixed branch
    # types would have been coerced at analysis time — fall back
    _same_class((a, b))
    return a if _bool3(c) is True else b


def _fn_hash(algo: str, v):
    # md5/sha2 over the utf8 bytes, lowercase hex — hashlib and Spark
    # are bit-identical here (hash functions are exactly specified,
    # unlike transcendentals, which is why exp/ln are NOT whitelisted)
    import hashlib

    if v is None:
        return None
    return hashlib.new(algo, _str_arg(v).encode("utf-8")).hexdigest()


def _int_arg(v):
    """Integral-only operand for bit ops: Spark's & | ^ ~ reject
    fractional types at analysis — a float here means the Spark path
    owns the (per-event) error."""
    if isinstance(v, bool) or not isinstance(v, int):
        raise Fallback()
    if not _I64_MIN <= v <= _I64_MAX:
        raise Fallback()
    return v


def _fn_bit(op: str, a, b=None):
    # Python ints behave as infinite two's complement, so & | ^ ~ on
    # in-range int64 operands produce exactly Java's int64 results
    if a is None or (op != "~" and b is None):
        return None
    a = _int_arg(a)
    if op == "~":
        return _i64(~a)
    b = _int_arg(b)
    if op == "&":
        return _i64(a & b)
    if op == "|":
        return _i64(a | b)
    return _i64(a ^ b)


# ---- cast subset (ANSI semantics; anything outside raises Fallback
# so the Spark path — which RAISES on malformed ANSI casts — stays the
# semantics oracle for that event)

# Spark trims chars <= 0x20 off both ends before numeric/bool casts
# (UTF8String.trimAll) — wider than Python's default strip()
_ANSI_TRIM = "".join(map(chr, range(0x21)))

# Go unicode.IsSpace charset for the dialect's trim() (functions_string.
# go:141 strings.TrimSpace): Latin-1 whitespace + Unicode White_Space
_GO_SPACE = (" \t\n\v\f\r" + chr(0x85) + chr(0xA0) + chr(0x1680)
             + "".join(map(chr, range(0x2000, 0x200B)))
             + chr(0x2028) + chr(0x2029) + chr(0x202F) + chr(0x205F)
             + chr(0x3000))
# re.ASCII is LOAD-BEARING: \d in unicode mode matches e.g. Arabic-
# Indic digits, which Python's int()/float() ACCEPT but Spark's ANSI
# cast rejects — without it the python path would return a value where
# the semantics oracle raises
_CAST_INT_RE = re.compile(r"[+-]?\d+", re.ASCII)
_CAST_NUM_RE = re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?",
                          re.ASCII)
_I32_MIN, _I32_MAX = -(2 ** 31), 2 ** 31 - 1


def _cast_int_factory(lo: int, hi: int):
    def cast_i(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return 1 if v else 0
        if isinstance(v, int):
            if not lo <= v <= hi:
                raise Fallback()  # ANSI overflow raises on the Spark path
            return v
        if isinstance(v, float):
            if not math.isfinite(v):
                raise Fallback()
            r = math.trunc(v)  # ANSI double->int truncates toward zero
            if not lo <= r <= hi:
                raise Fallback()
            return r
        if isinstance(v, str):
            s = v.strip(_ANSI_TRIM)
            if not _CAST_INT_RE.fullmatch(s):
                raise Fallback()  # malformed: ANSI raises
            r = int(s)
            if not lo <= r <= hi:
                raise Fallback()
            return r
        raise Fallback()
    return cast_i


def _cast_double(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float)):
        # _num range-checks raw ints: beyond BIGINT the oracle path
        # (CAST(v AS BIGINT) literal encoding) raises, so the python
        # path must not silently answer
        return float(_num(v))  # long->double rounds to nearest, same as JVM
    if isinstance(v, str):
        s = v.strip(_ANSI_TRIM)
        if not _CAST_NUM_RE.fullmatch(s):
            raise Fallback()  # incl. 'Infinity'/'NaN' spellings
        r = float(s)
        if not math.isfinite(r):
            raise Fallback()
        return r
    raise Fallback()


def _cast_string(v):
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(_num(v))  # _num: ints beyond BIGINT → Fallback
    # float formatting is Double.toString — JVM-version-specific digit
    # generation: Spark path owns it (compile_strict callers format
    # in-process, see _java_double_str)
    raise Fallback()


# legacy FloatingDecimal (JDK <= 18) prints an extra digit for this
# exact-integer double; Ryu (JDK >= 19, JDK-4511638) prints the
# shortest '9.745699541085918E16', which is this module's layout
_LEGACY_PROBE_VALUE = 9.745699541085918e16
_LEGACY_PROBE_STR = "9.7456995410859184E16"


def jvm_double_str_is_legacy(spark) -> bool:
    """Runtime probe of the deployed JVM's Double.toString digit
    generator.  On Ryu JVMs (>= 19) ``_java_double_str`` is exact
    EVERYWHERE; on legacy JVMs (<= 18) it is exact outside two pinned
    classes (see _java_double_str)."""
    s = spark.sql(
        f"SELECT cast({_LEGACY_PROBE_VALUE!r} as double)"
        " AS x").selectExpr("cast(x as string)").first()[0]
    return s == _LEGACY_PROBE_STR


def _java_double_str(x: float) -> str:
    """Java Double.toString layout — what CAST(x AS STRING) prints on
    the JVM: scientific notation at |x| >= 1e7 and < 1e-3 (Python
    switches at 1e16/1e-5), 'E' with no '+', NaN/Infinity spelled out.
    Python's repr supplies the shortest round-trip digits; only the
    layout differs.

    Exactness, pinned against the real JVM by
    tests/test_cep.py::test_java_double_str_matches_jvm_cast over
    random bit patterns + 17-significant-digit doubles + denormals:
    on Ryu JVMs (JDK >= 19) output equals CAST everywhere; on legacy
    JVMs (JDK <= 18, probed via jvm_double_str_is_legacy) the ONLY
    divergences are (a) exact-integer doubles >= 2^53, (b) subnormals,
    and (c) mantissas with >= 40 trailing zero bits (e.g. 2^-44) —
    classes where legacy FloatingDecimal emits extra trailing digits
    of the exact expansion ('4.9E-324' vs shortest '5.0E-324',
    JDK-4511638) — and both strings round-trip to the same double.
    The per-event path still falls back on floats (the Spark path owns
    the digits there); compile_strict callers have no JVM to ask."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    sign = "-" if math.copysign(1.0, x) < 0 else ""
    if x == 0:
        return sign + "0.0"
    s = repr(abs(x))
    if "e" in s:
        mant, e = s.split("e")
        e = int(e)
    else:
        mant, e = s, 0
    ip, _, fp = mant.partition(".")
    digits = ip + fp
    point = len(ip) + e  # value = 0.<digits> * 10**point
    stripped = digits.lstrip("0")
    point -= len(digits) - len(stripped)
    digits = stripped.rstrip("0") or "0"
    exp = point - 1  # floor(log10(|x|))
    if -3 <= exp <= 6:  # Java decimal-notation window
        if exp >= 0:
            whole = digits.ljust(exp + 1, "0")
            frac = digits[exp + 1:] or "0"
            return f"{sign}{whole[:exp + 1]}.{frac}"
        return sign + "0." + "0" * (-exp - 1) + digits
    frac = digits[1:] or "0"
    return f"{sign}{digits[0]}.{frac}E{exp}"


_BOOL_TRUE = frozenset(("t", "true", "y", "yes", "1"))
_BOOL_FALSE = frozenset(("f", "false", "n", "no", "0"))


def _cast_bool(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return _num(v) != 0  # _num: ints beyond BIGINT → Fallback
    if isinstance(v, str):
        s = v.strip(_ANSI_TRIM).lower()
        if s in _BOOL_TRUE:
            return True
        if s in _BOOL_FALSE:
            return False
        raise Fallback()  # ANSI raises on anything else
    raise Fallback()  # double->boolean: Spark rejects at analysis


_CASTERS = {
    "int": _cast_int_factory(_I32_MIN, _I32_MAX),
    "int32": _cast_int_factory(_I32_MIN, _I32_MAX),
    "integer": _cast_int_factory(_I32_MIN, _I32_MAX),
    "int64": _cast_int_factory(_I64_MIN, _I64_MAX),
    "bigint": _cast_int_factory(_I64_MIN, _I64_MAX),
    "long": _cast_int_factory(_I64_MIN, _I64_MAX),
    "float": _cast_double, "float64": _cast_double, "double": _cast_double,
    "string": _cast_string, "varchar": _cast_string, "text": _cast_string,
    "bool": _cast_bool, "boolean": _cast_bool,
    # float32/timestamp/date/decimal: Spark path (rounding/format
    # behavior we can't reproduce bit-exactly)
}


def _fn_trunc(x, n=0):
    """Numeric truncate — mirrors the rendered Spark formula
    (registry._render_trunc) operation-for-operation: same IEEE
    multiply, BIGINT floor/ceil, divide."""
    if x is None or n is None:
        return None
    x = _finite(x)
    n = _num(n)
    p = 10.0 ** float(n)
    v = x * p
    if not math.isfinite(v) or p == 0:
        raise Fallback()
    r = math.floor(v) if x >= 0 else math.ceil(v)
    _i64(r)  # Spark floor/ceil(double) yields BIGINT — overflow raises
    return r / p


def _fn_hex2dec(v):
    """conv(s, 16, 10) for the PROVEN shape only: 1-15 plain hex digits
    (≤ 2^60 — no unsigned wrap, no BIGINT overflow, no conv leniency
    edge cases)."""
    if v is None:
        return None
    if isinstance(v, int) and not isinstance(v, bool):
        v = str(v)  # conv casts its arg to string first
    s = _str_arg(v)
    if not re.fullmatch(r"[0-9a-fA-F]{1,15}", s):
        raise Fallback()
    return int(s, 16)


def _fn_dec2hex(v):
    """lower(hex(CAST(x AS BIGINT))): two's-complement 64-bit hex."""
    if v is None:
        return None
    return format(_CASTERS["bigint"](v) % (2 ** 64), "x")


_NUMERIC_SPECIAL = re.compile(r"(?i)inf|nan")


def _fn_is_numeric(v):
    """(try_cast(CAST(x AS STRING) AS DOUBLE) IS NOT NULL) — Spark's
    string-to-double parse is LENIENT ('inf', '1.0d', 'Infinity' all
    parse), so only the proven outcomes answer: canonical numerics →
    True, clearly-non-numeric (no digits, no inf/nan spelling) → False,
    the lenient middle ground → Spark path."""
    if v is None or isinstance(v, bool):
        return False
    if isinstance(v, _NUM):
        _num(v)  # ints beyond BIGINT: the oracle literal raises → Fallback
        return True  # numeric→string→double round-trips (incl inf/nan)
    s = _str_arg(v).strip(_ANSI_TRIM)
    if _CAST_NUM_RE.fullmatch(s):
        return True
    if not s:
        return False
    if _NUMERIC_SPECIAL.search(s) or any(c.isdigit() for c in s):
        raise Fallback()
    return False


# ------------------------------------------------ session context
# effective ``spark.sql.session.timeZone``, set by the facade before
# the first compile.  The time-of-day family (now/current_date/...)
# and epoch formatting only answer under UTC — the get_spark default
# (session.py) — because any other zone would require the JVM and
# Python tzdata to agree, an unverifiable bar; non-UTC sessions take
# the Spark path.
_SESSION_TZ = "UTC"


def set_session_tz(tz: str) -> None:
    global _SESSION_TZ
    _SESSION_TZ = tz or "unknown"  # unresolvable: UTC-gated fns off


# functions whose Spark semantics read the session timezone: compile
# REFUSES them under a non-UTC zone (a statement compiled under one
# facade must not start answering because a different facade later set
# the process-wide tz back to UTC), and the runtime gates stay as a
# tripwire for the reverse flip.  Known limit: mutating
# spark.sql.session.timeZone between a facade's compile and its later
# events is not re-detected — use a fresh StreamSQL after a tz change.
_TZ_GATED = frozenset(
    {"now", "current_date", "current_time", "unix_timestamp",
     "from_unixtime", "to_seconds", "day", "dayofweek", "dayofyear",
     "hour", "minute", "second", "month", "year", "date_add",
     "date_sub", "date_diff", "date_format", "date_parse", "extract"})


def _utc_now():
    """Wall clock in session time (UTC-gated).  now()/current_* are
    NONDETERMINISTIC: the parity bar here is type + clock source, not
    value-identity with a Spark evaluation at a different instant —
    the reference evaluates them in-process the same way
    (functions_datetime.go now/current_*)."""
    if _SESSION_TZ != "UTC":
        raise Fallback()
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


def _fn_unix_timestamp():
    if _SESSION_TZ != "UTC":
        raise Fallback()
    return int(_time.time())


def _fn_from_unixtime(v):
    """from_unixtime(seconds) → 'yyyy-MM-dd HH:mm:ss' in session time
    (registry renders Spark's from_unixtime).  DETERMINISTIC — exact
    parity required: int seconds only (a double arg casts engine-side),
    years outside 1000-9999 fall back (strftime %Y zero-padding is
    platform-dependent)."""
    if v is None:
        return None
    if _SESSION_TZ != "UTC":
        raise Fallback()
    if isinstance(v, bool) or not isinstance(v, int):
        raise Fallback()
    try:
        d = _dt.datetime.fromtimestamp(v, _dt.timezone.utc)
    except (OverflowError, OSError, ValueError):
        raise Fallback()
    if not 1000 <= d.year <= 9999:
        raise Fallback()
    return d.strftime("%Y-%m-%d %H:%M:%S")


def _fn_chr(v):
    """chr(code) — the rendered formula (registry.py) answers char(v)
    for 0..127 and NULL outside (the reference errors on out-of-ASCII,
    functions_conversion.go:362-369; a rendered column can't raise
    per-row)."""
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, int):
        raise Fallback()  # fractional codes: engine-side cast semantics
    return chr(v) if 0 <= v <= 127 else None


def _reject_dup_pairs(pairs):
    """object_pairs_hook shared by json_valid and json_extract:
    duplicate object keys ANYWHERE — including escape-collided
    spellings (a key written with \\u-escapes collides with its plain
    form), which a raw-text scan cannot see — are parser-dependent
    territory (variant REJECTS them, Jackson keeps the first match,
    Python keeps the last), so they go to the oracle."""
    d = {}
    for k, val in pairs:
        if k in d:
            raise Fallback()
        d[k] = val
    return d


def _json_no_const(_):
    raise Fallback()  # NaN/Infinity: Python accepts, variant varies


def _jv_flt(s):
    f = float(s)
    if not math.isfinite(f):
        raise Fallback()  # 1e999 overflows differently per parser
    return f


def _jv_intg(s):
    if len(s.lstrip("-")) > 38:
        raise Fallback()  # beyond variant's decimal(38) range
    return int(s)


def _fj_flt(s):
    if "e" in s or "E" in s:
        f = float(s)
        if not math.isfinite(f):
            raise Fallback()
        return f  # exponent notation: variant double, exact parse
    raise Fallback()  # decimal notation: variant DECIMAL values


def _fj_intg(s):
    n = int(s)
    if not _I64_MIN <= n <= _I64_MAX:
        raise Fallback()  # variant widens to decimal(38)
    return n


def _guarded_json_parse(v: str, flt=_jv_flt, intg=_jv_intg):
    """Strict guarded parse shared by the json family: python-strict
    acceptance implies JVM-parser acceptance for the guarded subset —
    any parse failure, non-finite number, >38-digit integer (variant
    decimal bound), duplicate key, or deeply-bracketed document is
    parser-leniency territory and falls back.  ``flt``/``intg``
    override the number hooks for callers whose VALUES surface
    (from_json needs variant's decimal-vs-double split; the
    validity/type/length family only classifies)."""
    if v.count("[") + v.count("{") > 64:
        raise Fallback()  # depth limits differ between parsers
    try:
        return _json.loads(v, parse_constant=_json_no_const,
                           parse_float=flt, parse_int=intg,
                           object_pairs_hook=_reject_dup_pairs)
    except Fallback:
        raise
    except Exception:
        raise Fallback()  # the JVM parser may be laxer: oracle decides


_JSON_TRIM = " \t\n\r"  # the renderers' trim(BOTH ' \t\n\r' FROM x)


def _fn_json_valid(v):
    """json_valid(s) → (try_parse_json(s) IS NOT NULL): NULL input is
    FALSE (NULL IS NOT NULL)."""
    if v is None:
        return False
    if not isinstance(v, str):
        raise Fallback()
    _guarded_json_parse(v)
    return True


def _fn_json_type(v):
    """json_type(s) — mirror of the rendered CASE (registry.py): the
    guarded parse proves NOT-invalid, then the classification is the
    same whitespace-trimmed prefix logic the rendering applies."""
    if v is None:
        return None
    if not isinstance(v, str):
        raise Fallback()
    _guarded_json_parse(v)
    t = v.strip(_JSON_TRIM)
    if t == "null":
        return "null"
    if t.startswith("{"):
        return "object"
    if t.startswith("["):
        return "array"
    if t.startswith('"'):
        return "string"
    if t in ("true", "false"):
        return "boolean"
    return "number"  # parse succeeded and no other prefix matched


def _has_lone_surrogate(x) -> bool:
    """True when any string in the parsed tree (values OR keys)
    contains a code point in U+D800-DFFF: Python's json keeps unpaired
    \\u-escaped surrogates verbatim, while the JVM's UTF-8 encoder
    replaces them with '?' (measured) — and replaced keys can even
    collapse together.  Paired escapes combine into one astral char on
    both sides, so they pass."""
    if isinstance(x, str):
        return any("\ud800" <= c <= "\udfff" for c in x)
    if isinstance(x, list):
        return any(_has_lone_surrogate(i) for i in x)
    if isinstance(x, dict):
        return any(_has_lone_surrogate(k) or _has_lone_surrogate(val)
                   for k, val in x.items())
    return False


def _fn_from_json(v):
    """from_json(s) → parse_json (VARIANT), delivered to python as
    containers/scalars.  Mirrorable subset (measured): ints within
    BIGINT stay int, strings/bools/null/containers map 1:1, and
    E-NOTATION numbers arrive as double — but DECIMAL-notation
    numbers ('1.0') arrive as Decimal, >38-digit ints widen to
    Decimal, and strings holding lone surrogates come back
    '?'-replaced, so those (and NaN/Infinity, duplicate keys —
    parse_json RAISES on them under ANSI) fall back."""
    if v is None:
        return None
    if not isinstance(v, str):
        raise Fallback()
    parsed = _guarded_json_parse(v, flt=_fj_flt, intg=_fj_intg)
    if _has_lone_surrogate(parsed):
        raise Fallback()
    return parsed


def _fn_json_length(v):
    """json_length(s) — rendered as json_array_length for '['-prefixed
    docs, size(json_object_keys) for '{'-prefixed, NULL otherwise.
    With the guarded parse (no duplicate keys), element/key counts are
    parser-independent."""
    if v is None:
        return None
    if not isinstance(v, str):
        raise Fallback()
    parsed = _guarded_json_parse(v)
    t = v.strip(_JSON_TRIM)
    if t.startswith(("[", "{")):
        return len(parsed)  # top-level elements / distinct keys
    return None


# ------------------------------------------ datetime (strict subset, r10)

_STRICT_TS_RE = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})"
    r"(?:[ ](\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?)?")


def _strict_ts(v):
    """Spark ``CAST(string AS TIMESTAMP)`` for the STRICT shape
    ``yyyy-MM-dd[ HH:mm:ss[.ffffff]]`` with in-range fields — the
    shapes whose acceptance is mode-independent.  Everything else
    (T separators, zone suffixes, partial times, single-digit fields,
    out-of-range dates — ANSI raises where legacy NULLs) falls back.
    UTC-gated: in a DST zone a wall-clock string can be nonexistent or
    ambiguous and Spark shifts it, so every consumer (field extractors,
    date arithmetic, formatting) is only wall==instant-safe under a
    fixed-offset session zone."""
    if v is None:
        return None
    if _SESSION_TZ != "UTC":
        raise Fallback()
    if not isinstance(v, str):
        raise Fallback()
    m = _STRICT_TS_RE.fullmatch(v)
    if m is None:
        raise Fallback()
    try:
        return _dt.datetime(int(m[1]), int(m[2]), int(m[3]),
                           int(m[4] or 0), int(m[5] or 0), int(m[6] or 0),
                           int((m[7] or "0").ljust(6, "0")))
    except ValueError:
        raise Fallback()  # invalid date: ANSI raises, legacy NULLs


def _ts_field(fld):
    def f(v):
        d = _strict_ts(v)
        return None if d is None else fld(d)
    return f


def _fn_to_seconds(v):
    """to_seconds → unix_timestamp(CAST(x AS TIMESTAMP)): epoch micros
    divided by 1e6 with JAVA integer division — truncation toward
    ZERO, not floor (measured: '1969-12-31 23:59:59.5' → 0, where
    floor would give -1).  UTC-gated by _strict_ts."""
    d = _strict_ts(v)
    if d is None:
        return None
    us = calendar.timegm(d.timetuple()) * 1_000_000 + d.microsecond
    q, r = divmod(us, 1_000_000)
    if q < 0 and r:
        q += 1  # floor → toward zero
    return q


# timestampadd/timestampdiff fixed-length units in microseconds; the
# calendar units (MONTH/QUARTER/YEAR) go through _add_months
_UNIT_US = {"DAY": 86_400_000_000, "HOUR": 3_600_000_000,
            "MINUTE": 60_000_000, "SECOND": 1_000_000,
            "WEEK": 604_800_000_000, "MILLISECOND": 1_000,
            "MICROSECOND": 1}
_UNIT_MONTHS = {"MONTH": 1, "QUARTER": 3, "YEAR": 12}


def _add_months(d, n: int):
    """LocalDateTime.plusMonths semantics (Spark timestampadd
    MONTH/QUARTER/YEAR): day-of-month clamps to the target month's
    length, time-of-day keeps."""
    t = d.year * 12 + (d.month - 1) + n
    y, m = divmod(t, 12)
    if not 1 <= y <= 9999:
        raise Fallback()  # engine-side overflow behavior owns this
    last = calendar.monthrange(y, m + 1)[1]
    return d.replace(year=y, month=m + 1, day=min(d.day, last))


def _compile_date_addsub(e: "N.Func", sign: int):
    """date_add/date_sub(ts, n[, unit]) → timestampadd(UNIT,
    ±CAST(n AS BIGINT), CAST(ts AS TIMESTAMP)) — registry
    _render_date_add/_render_date_sub."""
    from ..functions.registry import _ts_unit
    if not 2 <= len(e.args) <= 3:
        return None
    unit = _ts_unit(e.args[2]) if len(e.args) > 2 else "DAY"
    vf, nf = compile_expr(e.args[0]), compile_expr(e.args[1])
    if vf is None or nf is None:
        return None
    unit_us = _UNIT_US.get(unit)
    months = _UNIT_MONTHS.get(unit)
    if unit_us is None and months is None:
        return None

    def f(row):
        d = _strict_ts(vf(row))
        n = nf(row)
        if d is None or n is None:
            return None
        if isinstance(n, bool) or not isinstance(n, int):
            raise Fallback()  # CAST(n AS BIGINT) truncation: engine-side
        try:
            if unit_us is not None:
                out = d + _dt.timedelta(microseconds=sign * n * unit_us)
            else:
                out = _add_months(d, sign * n * months)
        except (OverflowError, ValueError):
            raise Fallback()  # out of timestamp range: ANSI error zone
        return out

    return f


def _compile_date_diff(e: "N.Func"):
    """date_diff(a, b[, unit]) → timestampdiff(UNIT, CAST(b), CAST(a)):
    complete units between, truncated toward zero.  Calendar units
    (MONTH/QUARTER/YEAR — day-of-month comparison rules) stay on the
    Spark path."""
    from ..functions.registry import _ts_unit
    if not 2 <= len(e.args) <= 3:
        return None
    unit = _ts_unit(e.args[2]) if len(e.args) > 2 else "DAY"
    unit_us = _UNIT_US.get(unit)
    if unit_us is None:
        return None
    af, bf = compile_expr(e.args[0]), compile_expr(e.args[1])
    if af is None or bf is None:
        return None

    def f(row):
        a = _strict_ts(af(row))
        b = _strict_ts(bf(row))
        if a is None or b is None:
            return None
        us = (a - b) // _dt.timedelta(microseconds=1)
        q, r = divmod(us, unit_us)
        if q < 0 and r != 0:
            q += 1  # floor → truncate toward zero
        return q

    return f


def _parse_java_pattern(pat: str):
    """Tokenize the go_format_to_java output subset: yyyy/yy/MM/dd/
    HH/mm/ss field tokens, 'quoted' literals, non-letter literals.
    None for anything else (unsupported pattern letters)."""
    parts: list[tuple[str, str]] = []
    i = 0
    while i < len(pat):
        for tok in ("yyyy", "yy", "MM", "dd", "HH", "mm", "ss"):
            if pat.startswith(tok, i):
                parts.append(("f", tok))
                i += len(tok)
                break
        else:
            ch = pat[i]
            if ch == "'":
                j = pat.find("'", i + 1)
                if j < 0:
                    return None
                parts.append(("l", "'" if j == i + 1 else pat[i + 1:j]))
                i = j + 1
            elif ch.isalpha():
                return None
            else:
                parts.append(("l", ch))
                i += 1
    return parts


_JFMT_OUT = {
    "yyyy": lambda d: f"{d.year:04d}", "yy": lambda d: f"{d.year % 100:02d}",
    "MM": lambda d: f"{d.month:02d}", "dd": lambda d: f"{d.day:02d}",
    "HH": lambda d: f"{d.hour:02d}", "mm": lambda d: f"{d.minute:02d}",
    "ss": lambda d: f"{d.second:02d}",
}


def _compile_date_format(e: "N.Func"):
    """date_format(ts, pattern-literal) for the translated-token subset
    (registry._render_date_format → go_format_to_java)."""
    from ..functions.registry import _lit_str, go_format_to_java
    if len(e.args) != 2:
        return None
    pat = _lit_str(e.args[1])
    if pat is None:
        return None
    parts = _parse_java_pattern(go_format_to_java(pat))
    if parts is None:
        return None
    vf = compile_expr(e.args[0])
    if vf is None:
        return None

    def f(row):
        d = _strict_ts(vf(row))
        if d is None:
            return None
        return "".join(lit if kind == "l" else _JFMT_OUT[lit](d)
                       for kind, lit in parts)

    return f


def _compile_date_parse(e: "N.Func"):
    """date_parse(s, pattern-literal) → to_timestamp(s, javafmt) for
    exactly-one-of-each yyyy/MM/dd (+ optional HH/mm/ss) patterns:
    strict full-width match, missing time fields default to zero
    (Java resolver defaults); 'yy' (century-base resolution) and
    repeated fields stay on the Spark path.  A non-matching input is
    ANSI-mode territory (error vs NULL) — falls back."""
    from ..functions.registry import _lit_str, go_format_to_java
    if len(e.args) != 2:
        return None
    pat = _lit_str(e.args[1])
    if pat is None:
        return None
    parts = _parse_java_pattern(go_format_to_java(pat))
    if parts is None:
        return None
    toks = [lit for kind, lit in parts if kind == "f"]
    if "yy" in toks or len(set(toks)) != len(toks) \
            or not {"yyyy", "MM", "dd"} <= set(toks):
        return None
    rx = "".join(r"(\d{4})" if lit == "yyyy" else r"(\d{2})"
                 if kind == "f" else re.escape(lit)
                 for kind, lit in parts)
    pat_re = re.compile(rx)
    vf = compile_expr(e.args[0])
    if vf is None:
        return None

    def f(row):
        v = vf(row)
        if v is None:
            return None
        if _SESSION_TZ != "UTC":
            raise Fallback()
        if not isinstance(v, str):
            raise Fallback()
        m = pat_re.fullmatch(v)
        if m is None:
            raise Fallback()  # parse failure: ANSI raises, legacy NULLs
        got = dict(zip(toks, (int(g) for g in m.groups())))
        try:
            return _dt.datetime(got["yyyy"], got["MM"], got["dd"],
                               got.get("HH", 0), got.get("mm", 0),
                               got.get("ss", 0))
        except ValueError:
            raise Fallback()

    return f


def _compile_extract(e: "N.Func"):
    """extract(unit-literal, ts) — registry._render_extract's unit map
    (Go weekday 0=Sunday)."""
    from ..functions.registry import _lit_str
    if len(e.args) != 2:
        return None
    unit = (_lit_str(e.args[0]) or "year").lower()
    flds = {
        "year": lambda d: d.year, "month": lambda d: d.month,
        "day": lambda d: d.day, "hour": lambda d: d.hour,
        "minute": lambda d: d.minute, "second": lambda d: d.second,
        "weekday": lambda d: (d.weekday() + 1) % 7,
        "yearday": lambda d: d.timetuple().tm_yday,
    }
    fld = flds.get(unit)
    if fld is None:
        return None  # renderer raises at render time — Spark path owns
    vf = compile_expr(e.args[1])
    if vf is None:
        return None

    def f(row):
        d = _strict_ts(vf(row))
        return None if d is None else fld(d)

    return f


def _compile_split(e: "N.Func"):
    """split(s, literal-sep) — the renderer regex-escapes the literal
    delimiter (strings.Split semantics), so Java Pattern.split with
    limit -1 equals Python str.split exactly (both keep leading and
    trailing empties); empty/runtime delimiters stay on the Spark
    path."""
    if len(e.args) != 2:
        return None
    sep = e.args[1]
    if not (isinstance(sep, N.Lit) and isinstance(sep.value, str)
            and sep.value):
        return None
    vf = compile_expr(e.args[0])
    if vf is None:
        return None
    sepv = sep.value

    def f(row):
        v = vf(row)
        if v is None:
            return None
        if not isinstance(v, str):
            raise Fallback()
        return v.split(sepv)

    return f


def _compile_array_len(e: "N.Func"):
    """len/length over an array-producing function argument renders
    cardinality() (registry._render_len's polymorphic branch) — count
    list elements; a non-Func argument keeps the string-length _FNS
    path.  Returns None to mean 'not the array branch'."""
    if len(e.args) != 1:
        return None
    a0 = e.args[0]
    from ..functions.registry import _ARRAY_FUNCS
    if not (isinstance(a0, N.Func) and a0.name.lower() in _ARRAY_FUNCS):
        return None

    vf = compile_expr(a0)

    def f(row):
        v = vf(row)
        if v is None:
            return None
        if not isinstance(v, list):
            raise Fallback()
        return len(v)

    return f if vf is not None else _NO_COMPILE


_NO_COMPILE = object()  # array-branch marker: "is the branch, can't compile"


_B64_RE = re.compile(r"[A-Za-z0-9+/]*={0,2}")
_HEX_RE = re.compile(r"(?:[0-9a-fA-F]{2})*")


def _compile_encode_decode(lname: str, e: "N.Func"):
    """encode/decode for the exactly-specified formats: base64
    (java.util.Base64 basic == python base64, unchunked) and hex
    (lower(hex(bytes)) == bytes.hex()).  String inputs only (CAST of
    other types to BINARY is engine-specific); decode admits only
    CANONICAL input whose bytes round-trip strict UTF-8 — anything
    lenient (non-canonical base64, odd-length hex, invalid UTF-8 whose
    binary→string cast behavior is mode-dependent) falls back.  The
    'url' format's Java URLEncoder alphabet differs from Python's
    quote — Spark path."""
    from ..functions.registry import _lit_str
    if len(e.args) != 2:  # (value, format) — the reference's 2,2 arity
        return None
    fmt = (_lit_str(e.args[1]) or "").lower()
    if fmt not in ("base64", "hex"):
        return None
    vf = compile_expr(e.args[0])
    if vf is None:
        return None
    enc = lname == "encode"

    def f(row):
        v = vf(row)
        if v is None:
            return None
        if not isinstance(v, str):
            raise Fallback()
        if enc:
            try:
                raw = v.encode("utf-8")
            except UnicodeEncodeError:
                raise Fallback()  # lone surrogates: engine-side bytes
            return (_b64.b64encode(raw).decode("ascii")
                    if fmt == "base64" else raw.hex())
        if fmt == "base64":
            if not _B64_RE.fullmatch(v) or len(v) % 4:
                raise Fallback()  # lenient/invalid input: engine rules
            raw = _b64.b64decode(v, validate=True)
            if _b64.b64encode(raw).decode("ascii") != v:
                raise Fallback()  # non-canonical padding bits
        else:
            if not _HEX_RE.fullmatch(v):
                raise Fallback()  # odd length / non-hex: unhex leniency
            raw = bytes.fromhex(v)
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError:
            raise Fallback()  # binary→string cast of invalid UTF-8

    return f


def _compile_regexp_substring(e: "N.Func"):
    """regexp_substring(s, pattern-literal) → regexp_extract(s, p, 0):
    first match, whole-match group, EMPTY STRING on a miss.  Admitted
    only for the dialect-agnostic pattern subset — no backslash
    escapes (\\d/\\w/\\s differ in unicode scope between Java and
    Python), no anchors (line-terminator edge rules), no (?...)
    constructs; plain literals, ASCII classes, quantifiers, groups and
    alternation behave identically."""
    if len(e.args) != 2:
        return None
    pa = e.args[1]
    if not (isinstance(pa, N.Lit) and isinstance(pa.value, str)):
        return None
    pat = pa.value
    # also rejected: '.' (Java excludes \r/\u0085/\u2028/\u2029 as
    # line terminators, Python only \n), '&&' (Java class
    # intersection), '{,' (a {0,n} quantifier in Python, a syntax
    # error in Java)
    if any(tok in pat for tok in ("\\", "^", "$", "(?", ".", "&&", "{,")):
        return None
    # character-class edges where Java and Python diverge (ADVICE r10):
    # a '[' INSIDE a class is a nested-class union in Java but a
    # literal in Python ('[a[b]]' matches 'a]' here, 'a' there), and a
    # ']' as the FIRST member is a Python literal but a Java
    # PatternSyntaxException — the fast path must not answer where the
    # Spark path errors
    in_class = first = False
    for ch in pat:
        if in_class:
            if ch == "[" or (ch == "]" and first):
                return None
            if ch == "]":
                in_class = False
            first = False
        elif ch == "[":
            in_class = first = True
    if in_class:
        return None  # unterminated class: engine-specific recovery
    try:
        rx = re.compile(pat)
    except re.error:
        return None  # Java may accept what Python rejects: Spark path
    vf = compile_expr(e.args[0])
    if vf is None:
        return None

    def f(row):
        v = vf(row)
        if v is None:
            return None
        if not isinstance(v, str):
            raise Fallback()
        m = rx.search(v)
        return m.group(0) if m else ""

    return f


def _java_fixed(v, d: int) -> str:
    """Java Formatter %.df: HALF_UP rounding applied to the SHORTEST
    decimal representation of the double (FormattedFloatingDecimal
    formats from Double.toString digits, not the exact binary
    expansion — measured: format_string('%.2f', 2.675) is '2.68',
    where exact-binary 2.67499… would print '2.67'), unlike Python's
    half-even %.2f."""
    import decimal
    # ADVICE r10: pre-JDK-19 JVMs (this container runs 17) emit
    # NON-shortest Double.toString digits for |v| >= 2^53 (ulp > 1:
    # measured smallest divergence 1.8099929708770712E16 vs python's
    # 1.809992970877071e+16, and format_string('%.2f') follows those
    # digits — 215556435655560672.00 vs shortest-repr ...670.00).
    # Below 2^53 legacy == shortest (0/300k sweep divergences), so the
    # fast path answers only there and hands big magnitudes to Spark.
    if abs(float(v)) >= 9007199254740992.0:  # 2^53
        raise Fallback()
    try:
        # doubles reach ~1.8e308: the default 28-digit context cannot
        # hold the quantized coefficient (InvalidOperation at ~1e26)
        with decimal.localcontext() as ctx:
            ctx.prec = 340
            q = Decimal(repr(float(v))).quantize(
                Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP)
    except decimal.InvalidOperation:
        raise Fallback()
    return f"{q:.{d}f}"


def _compile_format(e: "N.Func"):
    """format(v[, pattern]) — registry._render_format: one arg casts to
    string (the ANSI cast subset); two args render
    format_string('%.{d}f', CAST(v AS DOUBLE)) with the digit count
    read from the literal pattern (default 2, '0' → 0)."""
    if len(e.args) == 1:
        vf = compile_expr(e.args[0])
        if vf is None:
            return None
        caster = _CASTERS["string"]
        return lambda row: caster(vf(row))
    if len(e.args) != 2:
        return None
    from ..functions.registry import format_digits
    pa = e.args[1]
    digits = format_digits(
        pa.value if isinstance(pa, N.Lit) and isinstance(pa.value, str)
        else None)
    vf = compile_expr(e.args[0])
    if vf is None:
        return None

    def f(row):
        v = vf(row)
        if v is None:
            # measured: format_string passes the NULL through to the
            # Java Formatter, which prints "null" TRUNCATED to the
            # conversion's precision ('%.2f' of NULL → 'nu')
            return "null"[:digits]
        v = _finite(v)  # inf/NaN render Java-specifically
        return _java_fixed(float(v), digits)

    return f


# --------------------------------------------- array functions (r10)

def _compile_array_val(e):
    """Accessor for an ARRAY-typed argument: a bare column hands the
    raw list through (compile_expr's col() refuses containers by
    design — the refusal protects scalar consumers, not these), any
    other expr compiles normally (split() produces lists).  The
    runtime list/homogeneity check happens in _scalar_array."""
    if isinstance(e, N.Col) and len(e.parts) == 1 \
            and isinstance(e.parts[0], str):
        name = e.parts[0]

        def acc(row):
            if name not in row:
                raise Fallback()
            return row[name]

        return acc
    return compile_expr(e)


def _scalar_array(v):
    """(list, class-token) for a homogeneous SCALAR array — the only
    array kind whose single-event schema inference (the Spark oracle
    encodes the list as a typed literal) is unambiguous.  Nested
    containers, mixed classes, out-of-range ints → Fallback."""
    if not isinstance(v, list):
        raise Fallback()
    cls = _homog_class(v)
    inner = cls[1]
    if inner not in (None, "b", "i", "f", "s"):
        raise Fallback()
    return v, inner


def _finite_elems(arr):
    """Set-based array ops (distinct/union/intersect/except) compare
    via Python hashing, where NaN != NaN — Spark's NaN normalization
    differs, so non-finite floats go to the oracle."""
    for x in arr:
        if isinstance(x, float) and not math.isfinite(x):
            raise Fallback()
    return arr


def _same_elem_class(ca, cb):
    """Two-array ops: a class mix (array<long> vs array<double>)
    makes Spark coerce BOTH sides — the result carries coerced values
    (1 → 1.0) the python path would get wrong — and a None class
    (empty / all-null array) single-event-infers as array<string>
    (measured: array_union([], [1,1]) is an ANALYSIS ERROR on the
    Spark route), so both cases fall back."""
    if ca is None or cb is None or ca != cb:
        raise Fallback()


def _arr_first_index(arr, val):
    """1-based first match by Spark equality (_cmp); 0 when absent."""
    for i, x in enumerate(arr):
        if x is not None and _cmp("=", x, val) is True:
            return i + 1
    return 0


def _compile_array_fn(lname: str, e: "N.Func"):
    two = lname in ("array_contains", "array_position", "array_remove",
                    "array_union", "array_intersect", "array_except")
    if len(e.args) != (2 if two else 1):
        return None
    af = _compile_array_val(e.args[0])
    if af is None:
        return None
    bf = None
    if two:
        bf = (_compile_array_val(e.args[1])
              if lname in ("array_union", "array_intersect",
                           "array_except") else compile_expr(e.args[1]))
        if bf is None:
            return None

    def f(row):
        va = af(row)
        if va is None:
            return None
        arr, ca = _scalar_array(va)
        if lname == "array_length":
            return len(arr)
        if lname == "array_distinct":
            out, seen = [], set()
            for x in _finite_elems(arr):
                if x not in seen:
                    seen.add(x)
                    out.append(x)
            return out
        vb = bf(row)
        if lname in ("array_union", "array_intersect", "array_except"):
            if vb is None:
                return None
            brr, cb = _scalar_array(vb)
            _same_elem_class(ca, cb)
            _finite_elems(arr)
            _finite_elems(brr)
            if lname == "array_union":
                out, seen = [], set()
                for x in arr + brr:
                    if x not in seen:
                        seen.add(x)
                        out.append(x)
                return out
            bset = set(brr)
            out, seen = [], set()
            for x in arr:
                keep = (x in bset) if lname == "array_intersect" \
                    else (x not in bset)
                if keep and x not in seen:
                    seen.add(x)
                    out.append(x)
            return out
        # element-valued second argument (contains/position/remove)
        if vb is None:
            return None
        if not isinstance(vb, (bool, int, float, str)):
            raise Fallback()
        if ca is None:
            # empty/all-null array infers array<string> on the Spark
            # route: a non-string probe value is an analysis error
            # there — don't answer what the oracle would reject
            raise Fallback()
        if lname == "array_contains":
            if _arr_first_index(arr, vb):
                return True
            return None if any(x is None for x in arr) else False
        if lname == "array_position":
            return _arr_first_index(arr, vb)
        # array_remove: drop every element equal to vb; nulls keep
        return [x for x in arr
                if x is None or _cmp("=", x, vb) is not True]

    return f


_ARRAY_FN_NAMES = frozenset(
    {"array_contains", "array_position", "array_remove", "array_union",
     "array_intersect", "array_except", "array_distinct", "array_length"})


_UDF_T = None  # lazy pyspark.sql.types handle (keeps pyeval pure-python)


def _udf_result(r, dt):
    """Spark's UDF result-type contract for the EXACT-match subset: a
    result whose Python type matches the declared Spark type passes
    through unchanged on both the pickled and Arrow-optimized UDF
    paths; anything needing coercion (int for a DOUBLE declaration,
    str for BIGINT, containers, timestamps...) is converter-dependent
    — the Spark path owns it."""
    global _UDF_T
    if _UDF_T is None:
        from pyspark.sql import types as _T
        _UDF_T = _T
    T = _UDF_T
    if r is None:
        return None
    if isinstance(dt, T.StringType):
        if isinstance(r, str):
            return r
    elif isinstance(dt, T.LongType):
        if isinstance(r, int) and not isinstance(r, bool) \
                and _I64_MIN <= r <= _I64_MAX:
            return r
    elif isinstance(dt, T.IntegerType):
        if isinstance(r, int) and not isinstance(r, bool) \
                and -(2 ** 31) <= r <= 2 ** 31 - 1:
            return r
    elif isinstance(dt, T.DoubleType):
        if isinstance(r, float):
            return float(r)  # normalizes float subclasses (np.float64)
    elif isinstance(dt, T.BooleanType):
        if isinstance(r, bool):
            return r
    raise Fallback()


def _compile_custom_scalar(lname: str, e: "N.Func"):
    """Call a runtime-registered scalar UDF in-process — the SAME
    Python callable the Spark path executes (registry.register_function
    hands it to spark.udf.register), so given identical argument values
    the result is identical by construction; what needs guarding is the
    HANDOFF: scalar args only (container representation differs by UDF
    mode), exact result-type match (``_udf_result``), and a raising UDF
    re-routes to the Spark path, which owns error surfacing."""
    args = [compile_expr(a) for a in e.args]
    if any(a is None for a in args):
        return None
    from ..functions.registry import custom_scalar
    expected = custom_scalar(lname)
    fn, dt = expected

    def call(row):
        # identity tripwire: the registry is PROCESS-global while
        # spark.udf.register is per-SparkSession — if the entry was
        # replaced since compile (re-registration, or another session
        # registering the same name), this compiled closure must not
        # keep answering with a callable the Spark path may no longer
        # execute; the oracle decides
        if custom_scalar(lname) is not expected:
            raise Fallback()
        vals = [a(row) for a in args]
        for v in vals:
            if v is not None and not isinstance(v, (bool, int, float, str)):
                raise Fallback()
        try:
            r = fn(*vals)
        except Exception:
            raise Fallback()
        return _udf_result(r, dt)

    return call


_FNS: dict[str, object] = {
    # type checks: on the per-event path every admitted value is a
    # scalar (col() refuses containers), and an untyped NULL literal's
    # typeof is 'void' — so these are pure Python-type tests
    "is_numeric": _fn_is_numeric,
    "is_string": lambda v: isinstance(v, str),
    "is_bool": lambda v: isinstance(v, bool),
    "is_array": lambda v: False,
    "is_object": lambda v: False,
    "trunc": _fn_trunc,
    "hex2dec": _fn_hex2dec,
    "dec2hex": _fn_dec2hex,
    # whitespace set matches the rendered trim(BOTH ' \t\n\r' FROM x)
    "ltrim": lambda v: None if v is None else _str_arg(v).lstrip(" \t\n\r"),
    "rtrim": lambda v: None if v is None else _str_arg(v).rstrip(" \t\n\r"),
    "reverse": lambda v: None if v is None else _str_arg(v)[::-1],
    "repeat": lambda s, n: None if s is None or n is None
    else _str_arg(s) * max(int(_num(n)), 0),
    "replace": _fn_replace,
    "lpad": lambda s, n, p=" ": _fn_pad(True, s, n, p),
    "rpad": lambda s, n, p=" ": _fn_pad(False, s, n, p),
    "substring": _fn_substring,
    # dialect indexof = 0-based first occurrence, -1 when absent
    # (registry: instr - 1) — exactly Python str.find
    "indexof": lambda s, sub: None if s is None or sub is None
    else _str_arg(s).find(_str_arg(sub)),
    "sign": lambda v: None if v is None
    else (0.0 if _finite(v) == 0 else (1.0 if _finite(v) > 0 else -1.0)),
    "nullif": lambda a, b: None
    if (a is not None and b is not None and _cmp("=", a, b) is True)
    else a,
    "ifnull": lambda a, b: _fn_coalesce(a, b),
    "nvl": lambda a, b: _fn_coalesce(a, b),
    "greatest": lambda *vs: _fn_extreme(True, *vs),
    "least": lambda *vs: _fn_extreme(False, *vs),
    "if": _fn_if,
    "abs": lambda v: None if v is None else _i64(abs(_num(v))),
    "upper": lambda v: None if v is None else _str_arg(v).upper(),
    "lower": lambda v: None if v is None else _str_arg(v).lower(),
    "length": lambda v: None if v is None else len(_str_arg(v)),
    # Go TrimSpace = full unicode.IsSpace (functions_string.go:141) —
    # matches the rendered trim charset (registry.py), incl. the
    # U+2000-series Unicode spaces (delta closed r7)
    "trim": lambda v: None if v is None
    else _str_arg(v).strip(_GO_SPACE),
    # Spark sqrt(-x) is NaN (Java Math.sqrt), not NULL
    "sqrt": lambda v: None if v is None
    else (math.sqrt(_finite(v)) if _finite(v) >= 0 else float("nan")),
    "floor": lambda v: None if v is None else int(math.floor(_finite(v))),
    "ceil": lambda v: None if v is None else int(math.ceil(_finite(v))),
    "ceiling": lambda v: None if v is None else int(math.ceil(_finite(v))),
    "round": _round_half_up,
    "concat": _fn_concat,
    "coalesce": _fn_coalesce,
    "startswith": lambda s, p: None if s is None or p is None
    else _str_arg(s).startswith(_str_arg(p)),
    "endswith": lambda s, p: None if s is None or p is None
    else _str_arg(s).endswith(_str_arg(p)),
    # exactly-specified hash functions (functions_hash.go parity)
    "md5": lambda v: _fn_hash("md5", v),
    "sha256": lambda v: _fn_hash("sha256", v),
    "sha512": lambda v: _fn_hash("sha512", v),
    # mod/power render to the same Spark ops as % / ^ (registry.py)
    "mod": lambda a, b: _arith("%", a, b),
    "power": lambda a, b: _arith("^", a, b),
    "pow": lambda a, b: _arith("^", a, b),
    # bit ops (int64 two's-complement exact)
    "bitand": lambda a, b: _fn_bit("&", a, b),
    "bitor": lambda a, b: _fn_bit("|", a, b),
    "bitxor": lambda a, b: _fn_bit("^", a, b),
    "bitnot": lambda a: _fn_bit("~", a),
    # type-check / conditional aliases (functions_type.go,
    # functions_conditional.go)
    "is_null": lambda v: v is None,
    "is_not_null": lambda v: v is not None,
    "if_null": lambda a, b: _fn_coalesce(a, b),
    "null_if": lambda a, b: _FNS["nullif"](a, b),
    "len": lambda v: None if v is None else len(_str_arg(v)),
    # conversion / json (r10 whitelist)
    "chr": _fn_chr,
    "json_valid": _fn_json_valid,
    "json_type": _fn_json_type,
    "json_length": _fn_json_length,
    "from_json": _fn_from_json,
    # datetime (r10; UTC-gated — see _SESSION_TZ)
    "from_unixtime": _fn_from_unixtime,
    "now": _utc_now,
    "current_date": lambda: _utc_now().date(),
    "current_time": lambda: _utc_now().strftime("%H:%M:%S"),
    "unix_timestamp": _fn_unix_timestamp,
    "to_seconds": _fn_to_seconds,
    # strict-timestamp field extractors: 'day' renders dayofmonth and
    # 'dayofweek' the Go Sunday=0 shift (registry.py); the rest are
    # pass-through Spark builtins over the implicit string cast
    "day": _ts_field(lambda d: d.day),
    "dayofweek": _ts_field(lambda d: (d.weekday() + 1) % 7),
    "dayofyear": _ts_field(lambda d: d.timetuple().tm_yday),
    "hour": _ts_field(lambda d: d.hour),
    "minute": _ts_field(lambda d: d.minute),
    "second": _ts_field(lambda d: d.second),
    "month": _ts_field(lambda d: d.month),
    "year": _ts_field(lambda d: d.year),
}

# arity guards (None = variadic)
_FN_ARITY: dict[str, tuple[int, int] | None] = {
    "abs": (1, 1), "upper": (1, 1), "lower": (1, 1), "length": (1, 1),
    "trim": (1, 1), "sqrt": (1, 1), "floor": (1, 1), "ceil": (1, 1),
    "ceiling": (1, 1), "round": (1, 2), "concat": None, "coalesce": None,
    "startswith": (2, 2), "endswith": (2, 2),
    "ltrim": (1, 1), "rtrim": (1, 1), "reverse": (1, 1), "repeat": (2, 2),
    "replace": (2, 3), "lpad": (2, 3), "rpad": (2, 3),
    "substring": (2, 3), "indexof": (2, 2), "sign": (1, 1),
    "nullif": (2, 2), "ifnull": (2, 2), "nvl": (2, 2),
    "greatest": (1, 64), "least": (1, 64), "if": (3, 3),
    "md5": (1, 1), "sha256": (1, 1), "sha512": (1, 1),
    "mod": (2, 2), "power": (2, 2), "pow": (2, 2),
    "bitand": (2, 2), "bitor": (2, 2), "bitxor": (2, 2), "bitnot": (1, 1),
    "is_null": (1, 1), "is_not_null": (1, 1),
    "if_null": (2, 2), "null_if": (2, 2), "len": (1, 1),
    "trunc": (1, 2), "hex2dec": (1, 1), "dec2hex": (1, 1),
    "is_numeric": (1, 1), "is_string": (1, 1), "is_bool": (1, 1),
    "is_array": (1, 1), "is_object": (1, 1),
    "chr": (1, 1), "json_valid": (1, 1), "json_type": (1, 1),
    "json_length": (1, 1), "from_json": (1, 1), "from_unixtime": (1, 1),
    "now": (0, 0), "current_date": (0, 0), "current_time": (0, 0),
    # unix_timestamp(ts) renders through a CAST — 0-arg form only
    "unix_timestamp": (0, 0),
    "to_seconds": (1, 1), "day": (1, 1), "dayofweek": (1, 1),
    "dayofyear": (1, 1), "hour": (1, 1), "minute": (1, 1),
    "second": (1, 1), "month": (1, 1), "year": (1, 1),
}


def raw_col(name: str):
    """Bare-column PASSTHROUGH for the analytic per-event path: the
    value feeds ``analytic_step`` (the same kernel the streaming route
    runs, which sees exactly these post-cleaning python types) or lands
    in the output row verbatim — no pyeval function ever evaluates it,
    so the container refusal in ``compile_expr``'s col() does not
    apply.  The int64 range guard is kept: the Spark oracle encodes
    ints as BIGINT and raises beyond the range."""
    def col(row, name=name):
        if name not in row:
            raise Fallback()
        v = row[name]
        if isinstance(v, int) and not isinstance(v, bool) \
                and not _I64_MIN <= v <= _I64_MAX:
            raise Fallback()
        if isinstance(v, list):
            # same guard element-wise: the Spark oracle encodes the
            # list as array<bigint> and raises beyond int64
            for x in v:
                if isinstance(x, int) and not isinstance(x, bool) \
                        and not _I64_MIN <= x <= _I64_MAX:
                    raise Fallback()
        return v
    return col


def _homog_class(v):
    """Spark-inference homogeneity witness for a nested value (r10
    nested-path whitelist).  The Spark fallback infers the event's
    schema from the single row: a dict becomes map<string, MERGE(value
    types)> and a list array<MERGE(elements)>, and the merge either
    RAISES (map vs long) or COERCES (long+string -> string, so ``1``
    reads back as ``'1'``; long+double -> double, so ``1`` reads back
    ``1.0``).  Rather than replicate the merge/coercion table, the
    python path answers ONLY when every dict/list under the traversed
    column is recursively single-classed — mixed containers re-route
    the event to the Spark semantics oracle.  Returns a hashable class
    token; raises Fallback on any mix or non-scalar leaf kind."""
    if isinstance(v, bool):
        return "b"
    if isinstance(v, int):
        if not _I64_MIN <= v <= _I64_MAX:
            raise Fallback()
        return "i"
    if isinstance(v, float):
        return "f"
    if isinstance(v, str):
        return "s"
    if isinstance(v, dict):
        inner = {_homog_class(x) for x in v.values() if x is not None}
        if len(inner) > 1:
            raise Fallback()
        return ("m", next(iter(inner), None))
    if isinstance(v, (list, tuple)):
        inner = {_homog_class(x) for x in v if x is not None}
        if len(inner) > 1:
            raise Fallback()
        return ("a", next(iter(inner), None))
    raise Fallback()  # datetime/bytes/... inside containers: Spark path


def _compile_nested_col(e: N.Col):
    """Nested path navigation (``a.b[0]['k']``) for the in-process
    path — the largest fallback class in the reference-mined corpus
    (30/101 direct-shaped misses, tests/pyeval_coverage.py).

    Conservative Spark-exact subset: the traversed column's value tree
    must be recursively homogeneous (see :func:`_homog_class` — the
    Spark oracle COERCES or RAISES on mixed containers), every dot/
    bracket step must land on a present key / in-range index, and the
    leaf must be scalar.  Anything else — missing key (Spark: NULL for
    a map, analysis error for a primitive mid-type), None mid-path,
    out-of-range index (try_element_at NULL), mixed containers —
    raises Fallback and the event re-runs through the Spark path,
    which stays the semantics oracle."""
    parts = e.parts
    if not isinstance(parts[0], str):
        return None
    for p in parts[1:]:
        if not isinstance(p, (str, int, N.MapKey)):
            return None

    def nav(row):
        root = parts[0]
        if root not in row:
            raise Fallback()
        cur = row[root]
        _homog_class(cur)  # whole-subtree check: siblings join the merge
        for p in parts[1:]:
            if isinstance(p, int):
                if not isinstance(cur, (list, tuple)):
                    raise Fallback()
                # render maps [i] -> try_element_at(i+1) / negative
                # from the end — python indexing matches exactly when
                # in range; out of range -> NULL (Spark) -> oracle path
                if not (-len(cur) <= p < len(cur)):
                    raise Fallback()
                cur = cur[p]
            else:
                key = p.key if isinstance(p, N.MapKey) else p
                if not isinstance(cur, dict) or key not in cur:
                    raise Fallback()
                cur = cur[key]
        if cur is not None and not isinstance(cur, (int, float, str, bool)):
            raise Fallback()  # non-scalar leaf: Spark path
        if isinstance(cur, int) and not isinstance(cur, bool) \
                and not _I64_MIN <= cur <= _I64_MAX:
            raise Fallback()
        return cur

    return nav


_JPATH_SEG = re.compile(r"\.([A-Za-z_][A-Za-z0-9_]*)|\[(\d+)\]")


def _parse_jpath(path: str):
    """``$.a.b[0].c`` → ["a", "b", 0, "c"]; None for anything beyond
    the plain dot/index subset (wildcards, quoted brackets, slices —
    those stay on the Spark path)."""
    if not path.startswith("$"):
        return None
    segs, pos = [], 1
    while pos < len(path):
        m = _JPATH_SEG.match(path, pos)
        if m is None:
            return None
        segs.append(m.group(1) if m.group(1) is not None
                    else int(m.group(2)))
        pos = m.end()
    return segs


def _compile_json_extract(e: N.Func):
    """json_extract(doc, path) → get_json_object (registry
    _render_json_extract) for the EXACTLY-replicable subset: a literal
    dot/index path whose leaf is a JSON string or null — the decoded
    string is well-defined on both engines, and a missing path is NULL
    on both.  Number/bool/container leaves (engine-specific text
    rendering), non-literal paths, documents Python can't parse
    strictly, and duplicate keys along the path (parser-dependent
    which match wins) all re-route to the Spark oracle."""
    if len(e.args) != 2:
        return None
    pa = e.args[1]
    if not (isinstance(pa, N.Lit) and isinstance(pa.value, str)):
        return None
    path = pa.value if pa.value.startswith("$") else "$." + pa.value
    segs = _parse_jpath(path)
    if segs is None:
        return None
    vf = compile_expr(e.args[0])
    if vf is None:
        return None


    def _no_const(_):
        raise Fallback()  # NaN/Infinity: Python accepts, Jackson varies

    def jx(row):
        doc = vf(row)
        if doc is None:
            return None
        if not isinstance(doc, str):
            raise Fallback()
        try:
            cur = _json.loads(doc, parse_constant=_no_const,
                              object_pairs_hook=_reject_dup_pairs)
        except Fallback:
            raise
        except Exception:
            # python-strict parse failure: Jackson may still accept
            # (laxer number/whitespace handling) — oracle decides
            raise Fallback()
        for s in segs:
            if isinstance(s, int):
                if not isinstance(cur, list) or not 0 <= s < len(cur):
                    return None  # out of range / not an array: NULL
                cur = cur[s]
            else:
                if not isinstance(cur, dict):
                    return None
                if s not in cur:
                    return None  # missing path: NULL on both engines
                cur = cur[s]
        if cur is None or isinstance(cur, str):
            return cur
        raise Fallback()  # number/bool/container leaf: text rendering

    return jx


def compile_expr(e: N.Expr):
    """AST → ``fn(row) -> value``; None when the node kind (or any
    child) is outside the supported subset."""
    if isinstance(e, Slot):
        return e.fn
    if isinstance(e, N.Lit):
        v = e.value
        return lambda row: v
    if isinstance(e, N.Col):
        if len(e.parts) != 1 or not isinstance(e.parts[0], str):
            return _compile_nested_col(e)
        name = e.parts[0]

        def col(row, name=name):
            if name not in row:
                # Spark raises unresolved-column for a missing event
                # field; a silent NULL would flip behavior vs fallback
                raise Fallback()
            v = row[name]
            if v is not None and not isinstance(v, (int, float, str, bool)):
                raise Fallback()  # nested/array value: Spark path
            if isinstance(v, int) and not isinstance(v, bool) \
                    and not _I64_MIN <= v <= _I64_MAX:
                # the Spark oracle encodes this value as
                # CAST(v AS BIGINT), which RAISES beyond int64 — any
                # python-path answer here would diverge from the oracle
                raise Fallback()
            return v
        return col
    if isinstance(e, N.Bin):
        lf, rf = compile_expr(e.left), compile_expr(e.right)
        if lf is None or rf is None:
            return None
        op = e.op.upper()
        if op in ("+", "-", "*", "/", "%", "^"):
            return lambda row: _arith(op, lf(row), rf(row))
        if op in ("=", "==", "!=", "<>", "<", "<=", ">", ">="):
            return lambda row: _cmp(op, lf(row), rf(row))
        if op == "AND":
            return lambda row: _and(_bool3(lf(row)), _bool3(rf(row)))
        if op == "OR":
            return lambda row: _or(_bool3(lf(row)), _bool3(rf(row)))
        if op == "||":
            # the || OPERATOR renders as bare Spark concat (render.py
            # render_bin): NULL-propagating, strings only — distinct
            # from the concat() FUNCTION's nil-skip ToString semantics
            return lambda row: _concat_op(lf(row), rf(row))
        return None
    if isinstance(e, N.Un):
        f = compile_expr(e.operand)
        if f is None:
            return None
        if e.op.upper() == "NOT":
            def notf(row):
                v = _bool3(f(row))
                return None if v is None else (not v)
            return notf
        if e.op == "-":
            return lambda row: None if f(row) is None else _i64(-_num(f(row)))
        return None
    if isinstance(e, N.Like):
        f = compile_expr(e.operand)
        if f is None or not isinstance(e.pattern, N.Lit) \
                or not isinstance(e.pattern.value, str):
            return None
        rx = _like_regex(e.pattern.value)
        if rx is None:
            return None
        neg = e.negated

        def like(row):
            v = f(row)
            if v is None:
                return None
            hit = bool(rx.match(_str_arg(v)))
            return (not hit) if neg else hit
        return like
    if isinstance(e, N.IsNull):
        f = compile_expr(e.operand)
        if f is None:
            return None
        neg = e.negated
        return lambda row: (f(row) is not None) if neg else (f(row) is None)
    if isinstance(e, N.InList):
        f = compile_expr(e.operand)
        items = [compile_expr(i) for i in e.items]
        if f is None or any(i is None for i in items):
            return None
        neg = e.negated

        def inlist(row):
            v = f(row)
            if v is None:
                return None
            vals = [i(row) for i in items]
            hit = any(v is not None and _cmp("=", v, w) is True
                      for w in vals if w is not None)
            if not hit and any(w is None for w in vals):
                return None  # SQL: x IN (..., NULL) is UNKNOWN unless hit
            return (not hit) if neg else hit
        return inlist
    if isinstance(e, N.Between):
        f, lo, hi = (compile_expr(e.operand), compile_expr(e.low),
                     compile_expr(e.high))
        if f is None or lo is None or hi is None:
            return None
        neg = e.negated

        def between(row):
            v = _and(_bool3(_cmp(">=", f(row), lo(row))),
                     _bool3(_cmp("<=", f(row), hi(row))))
            if v is None:
                return None
            return (not v) if neg else v
        return between
    if isinstance(e, N.Case):
        op_f = compile_expr(e.operand) if e.operand is not None else None
        if e.operand is not None and op_f is None:
            return None
        whens = []
        for c, v in e.whens:
            cf, vf = compile_expr(c), compile_expr(v)
            if cf is None or vf is None:
                return None
            whens.append((cf, vf))
        else_f = compile_expr(e.else_) if e.else_ is not None else None
        if e.else_ is not None and else_f is None:
            return None

        def case(row):
            # evaluate EVERY branch (closures are pure) to apply the
            # same mixed-type coercion guard Spark resolves statically
            branch_vals = [vf(row) for _, vf in whens]
            else_val = else_f(row) if else_f is not None else None
            _same_class(branch_vals + [else_val])
            if op_f is not None:
                base = op_f(row)
                for (cf, _), bv in zip(whens, branch_vals):
                    if base is not None and _cmp("=", base, cf(row)) is True:
                        return bv
            else:
                for (cf, _), bv in zip(whens, branch_vals):
                    if _truthy(_bool3(cf(row))):
                        return bv
            return else_val
        return case
    if isinstance(e, N.Func):
        if e.over is not None or e.distinct:
            return None
        lname = e.name.lower()
        from ..functions import registry as _registry
        if lname in _registry._CUSTOM_ANALYTICS:
            return None  # runtime-registered analytic wins (stateful)
        if lname in _registry._CUSTOM_SCALARS:
            if lname in _registry.SCALAR_RENDERERS \
                    or lname in _registry.AGG_RENDERERS:
                # a custom registration shadowed by a dialect renderer:
                # which one the rendered SQL resolves to is the Spark
                # path's business — don't guess
                return None
            return _compile_custom_scalar(lname, e)
        if lname == "case_when":
            # the renderer pairs args WHEN/THEN with a trailing ELSE
            # (registry._render_case_when) — build the equivalent
            # searched-CASE node and reuse its compiled semantics
            if len(e.args) < 2:
                return None
            pairs = list(zip(e.args[0::2], e.args[1::2]))
            else_ = e.args[-1] if len(e.args) % 2 == 1 else None
            return compile_expr(
                N.Case(operand=None, whens=pairs, else_=else_))
        if lname == "cast":
            # the renderer (registry._render_cast) reads the TYPE from
            # the AST literal and falls back to 'string' otherwise —
            # mirror that exactly; unsupported target types stay on the
            # Spark path
            if len(e.args) != 2:
                return None
            ta = e.args[1]
            tname = (ta.value.lower()
                     if isinstance(ta, N.Lit) and isinstance(ta.value, str)
                     else "string")
            caster = _CASTERS.get(tname)
            if caster is None:
                return None
            vf = compile_expr(e.args[0])
            if vf is None:
                return None
            return lambda row: caster(vf(row))
        if lname in _TZ_GATED and _SESSION_TZ != "UTC":
            return None  # see _TZ_GATED — non-UTC session at compile
        if lname == "json_extract":
            return _compile_json_extract(e)
        if lname == "extract":
            return _compile_extract(e)
        if lname == "date_add":
            return _compile_date_addsub(e, 1)
        if lname == "date_sub":
            return _compile_date_addsub(e, -1)
        if lname == "date_diff":
            return _compile_date_diff(e)
        if lname == "date_format":
            return _compile_date_format(e)
        if lname == "date_parse":
            return _compile_date_parse(e)
        if lname == "split":
            return _compile_split(e)
        if lname == "regexp_substring":
            return _compile_regexp_substring(e)
        if lname == "format":
            return _compile_format(e)
        if lname in ("encode", "decode"):
            return _compile_encode_decode(lname, e)
        if lname in _ARRAY_FN_NAMES:
            return _compile_array_fn(lname, e)
        if lname in ("len", "length"):
            arr = _compile_array_len(e)
            if arr is not None:
                return None if arr is _NO_COMPILE else arr
            # not the array branch: string length via _FNS below
        fn = _FNS.get(lname)
        if fn is None:
            return None
        arity = _FN_ARITY.get(e.name.lower())
        if arity is not None and not (arity[0] <= len(e.args) <= arity[1]):
            return None
        if lname == "round" and len(e.args) == 2:
            # Spark's Round requires a foldable int scale and rejects a
            # column scale at ANALYSIS time; pyeval must not answer
            # queries the semantics oracle would error on — admit only
            # an int literal (NULL/float/column scales → Spark path)
            d = e.args[1]
            if not (isinstance(d, N.Lit) and isinstance(d.value, int)
                    and not isinstance(d.value, bool)):
                return None
        args = [compile_expr(a) for a in e.args]
        if any(a is None for a in args):
            return None
        return lambda row: fn(*[a(row) for a in args])
    return None


def _bool3(v):
    if v is None or isinstance(v, bool):
        return v
    raise Fallback()


def compile_direct(stmt: "N.SelectStmt"):
    """Compile a direct-path statement into
    ``fn(row) -> dict | None | Fallback-raise``; returns None when the
    statement shape is outside the subset (joins/analytics/windows/
    unnest/DISTINCT/ORDER/LIMIT are gated by the caller)."""
    where_f = None
    if stmt.where is not None:
        where_f = compile_expr(stmt.where)
        if where_f is None:
            return None
    outs = []  # (name | None-for-star, fn | None)
    for i, f in enumerate(stmt.fields):
        if isinstance(f.expr, N.Star):
            if f.expr.qualifier:
                return None
            outs.append((None, None))
            continue
        fn = compile_expr(f.expr)
        if fn is None:
            return None
        name = f.alias
        if name is None:
            from .planner import _default_name
            name = _default_name(f.expr, i)
        outs.append((name, fn))

    def run(row: dict):
        if where_f is not None and not _truthy(_bool3(where_f(row))):
            return None
        out: dict = {}
        for name, fn in outs:
            if name is None:  # star: all event fields, sorted-key order
                for k in sorted(row):
                    v = row[k]
                    if v is not None and not isinstance(
                            v, (int, float, str, bool)):
                        raise Fallback()
                    out[k] = v
            else:
                out[name] = fn(row)
        return out

    return run
