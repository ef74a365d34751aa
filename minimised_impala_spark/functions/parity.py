"""Scalar-function parity layer — the reference's dialect surface.

The reference registers 424 builtins (common/function-registry/
impala_functions.py:56-691, fe/.../catalog/BuiltinsDb.java); nearly all map
1:1 onto ``pyspark.sql.functions``. This module supplies the residue — the
names Spark lacks — as **Column compositions** (JVM-side, whole-stage
codegen'd; no Python UDFs, so they cost the same as builtins at 100 TB)
plus SQL registration so ``spark.sql`` accepts the dialect names.

Implemented here (reference impl in parentheses):
- conditionals (be/src/exprs/conditional-functions.h:31-123):
  nullifzero, zeroifnull, istrue/isfalse/isnottrue/isnotfalse,
  nonnullvalue/nullvalue, decode (case-expr.cc DECODE semantics:
  NULL matches NULL)
- strings (be/src/exprs/string-functions.cc): strleft, strright
- bit/byte (be/src/exprs/bit-byte-functions.cc:1-200): rotateleft,
  rotateright, getbit, setbit, countset
- math (be/src/exprs/math-functions.cc): quotient
- hash (be/src/exprs/utility-functions.cc fnv_hash): FNV-1a 64-bit over
  UTF-8 bytes — public FNV spec (offset 14695981039346656037, prime
  1099511628211); the reference hashes raw little-endian value bytes, we
  hash the UTF-8 string form (documented dialect difference, same
  distribution properties)
- timestamps (be/src/exprs/timestamp-functions.cc): the
  {years..microseconds}_{add,sub} interval family (+ nanoseconds_*,
  truncating to Spark's µs precision), int_months_between,
  from_timestamp, timestamp_cmp, trunc(ts, fmt) with Impala/Oracle unit
  names (fe/.../analysis/TimestampArithmeticExpr.java)
- named bit ops (bitand/bitor/bitxor/bitnot), type-limit constants
  (max_tinyint..min_bigint — math-functions.cc), IS [NOT] DISTINCT FROM
  function forms (distinctfrom/notdistinct), regexp_match_count,
  decimal precision()/scale() as schema metadata helpers
  (decimal-functions.cc — compile-time in the reference too)

All bit ops are defined on BIGINT (64-bit width); narrower inputs are
widened first — the reference is width-polymorphic
(bit-byte-functions.cc), a documented difference.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from minimised_impala_spark.session import session_key


def _shl(c, n):
    return F.call_function("shiftleft", c, n)


def _shru(c, n):
    return F.call_function("shiftrightunsigned", c, n)


FNV64_OFFSET = 14695981039346656037  # == -3750763034362895579 as signed i64
FNV64_PRIME = 1099511628211


# --------------------------------------------------------------------------
# Conditionals


def nullifzero(c: Column) -> Column:
    return F.nullif(c, F.lit(0))


def zeroifnull(c: Column) -> Column:
    return F.coalesce(c, F.lit(0))


def istrue(c: Column) -> Column:
    return F.coalesce(c, F.lit(False))


def isfalse(c: Column) -> Column:
    return F.coalesce(~c, F.lit(False))


def isnottrue(c: Column) -> Column:
    return ~istrue(c)


def isnotfalse(c: Column) -> Column:
    return ~isfalse(c)


def nonnullvalue(c: Column) -> Column:
    return c.isNotNull()


def nullvalue(c: Column) -> Column:
    return c.isNull()


def decode(expr: Column, *pairs_and_default: Column) -> Column:
    """Oracle-style DECODE: (expr, k1, v1[, k2, v2]..., [default]).

    NULL search value matches NULL expr (case-expr.cc DECODE semantics) —
    hence eqNullSafe, not ``==``.
    """
    args = list(pairs_and_default)
    default = args.pop() if len(args) % 2 == 1 else F.lit(None)
    out: Column | None = None
    for k, v in zip(args[0::2], args[1::2]):
        cond = expr.eqNullSafe(k)
        out = F.when(cond, v) if out is None else out.when(cond, v)
    return default if out is None else out.otherwise(default)


# --------------------------------------------------------------------------
# Strings


def strleft(s: Column, n: Column | int) -> Column:
    return F.substring(s, 1, n if isinstance(n, int) else n)


def cast_char(s: Column, n: int) -> Column:
    """Impala ``CAST(x AS CHAR(n))`` (be/src/runtime/types.h:54-55;
    fe/.../catalog/ScalarType.java): truncate to n, then blank-pad to
    exactly n. Spark's native CHAR(n) cast either passes strings through
    (default conf) or *throws* on over-length (preserveCharVarcharTypeInfo),
    so the reference's truncate-and-pad contract is expressed explicitly."""
    return F.rpad(F.substring(s, 1, n), n, " ")


def cast_varchar(s: Column, n: int) -> Column:
    """Impala ``CAST(x AS VARCHAR(n))``: silent truncation to n."""
    return F.substring(s, 1, n)


def char_eq(a: Column, b: Column) -> Column:
    """CHAR comparison semantics: trailing blanks are insignificant
    (the reference compares CHARs padded to a common width)."""
    return F.rtrim(a) == F.rtrim(b)


def strright(s: Column, n: Column | int) -> Column:
    n = F.lit(n) if isinstance(n, int) else n
    # substring with negative start counts from the end; n <= 0 → empty.
    return F.when(n <= 0, F.lit("")).otherwise(F.substring(s, -n, n))


# --------------------------------------------------------------------------
# Bit/byte (BIGINT width)


def rotateleft(c: Column, n: Column | int) -> Column:
    n = F.lit(n) if isinstance(n, int) else n
    k = F.pmod(n, F.lit(64))
    return F.when(k == 0, c.cast("bigint")).otherwise(
        _shl(c.cast("bigint"), k).bitwiseOR(_shru(c.cast("bigint"), F.lit(64) - k))
    )


def rotateright(c: Column, n: Column | int) -> Column:
    n = F.lit(n) if isinstance(n, int) else n
    k = F.pmod(n, F.lit(64))
    return F.when(k == 0, c.cast("bigint")).otherwise(
        _shru(c.cast("bigint"), k).bitwiseOR(_shl(c.cast("bigint"), F.lit(64) - k))
    )


def getbit(c: Column, i: Column | int) -> Column:
    i = F.lit(i) if isinstance(i, int) else i
    return _shru(c.cast("bigint"), i).bitwiseAND(F.lit(1)).cast("tinyint")


def setbit(c: Column, i: Column | int, v: Column | int | None = None) -> Column:
    """setbit(x, i) sets bit i; setbit(x, i, 0|1) sets it to v."""
    i = F.lit(i) if isinstance(i, int) else i
    mask = _shl(F.lit(1).cast("bigint"), i)
    if v is None:
        return c.cast("bigint").bitwiseOR(mask)
    v = F.lit(v) if isinstance(v, int) else v
    return F.when(v == 0, c.cast("bigint").bitwiseAND(F.bitwise_not(mask))).otherwise(
        c.cast("bigint").bitwiseOR(mask)
    )


def countset(c: Column, v: Column | int = 1) -> Column:
    """Count bits equal to v (1 or 0) in the 64-bit representation."""
    v = F.lit(v) if isinstance(v, int) else v
    ones = F.bit_count(c.cast("bigint"))
    return F.when(v == 1, ones).otherwise(F.lit(64) - ones)


# --------------------------------------------------------------------------
# Math


def quotient(a: Column, b: Column) -> Column:
    """Integer division; NULL on divide-by-zero (non-ANSI semantics).

    Uses Spark's exact integral ``div`` — routing through double division
    loses precision above 2^53 and can return a wrong quotient."""
    return F.when(b.cast("bigint") == 0, F.lit(None)).otherwise(
        F.call_function("div", a.cast("bigint"), b.cast("bigint"))
    )


# --------------------------------------------------------------------------
# Hash


def fnv_hash(s: Column) -> Column:
    """FNV-1a 64-bit over the UTF-8 bytes of ``s`` (string input).

    Pure Catalyst expression: hex-encode the bytes, then fold byte pairs
    with ``aggregate``; BIGINT multiply wraps mod 2^64 in non-ANSI mode,
    exactly the FNV ring arithmetic.
    """
    offset = FNV64_OFFSET - (1 << 64)  # signed i64 literal
    hexed = F.hex(F.encode(s.cast("string"), "UTF-8"))
    nbytes = (F.length(hexed) / 2).cast("int")

    def step(acc: Column, i: Column) -> Column:
        byte = F.conv(F.substring(hexed, i * 2 - 1, F.lit(2)), 16, 10).cast("bigint")
        return acc.bitwiseXOR(byte) * F.lit(FNV64_PRIME)

    # sequence(1, 0) would count DOWN; guard the empty-string case.
    folded = F.aggregate(
        F.sequence(F.lit(1), F.greatest(nbytes, F.lit(1))),
        F.lit(offset).cast("bigint"),
        step,
    )
    return F.when(nbytes == 0, F.lit(offset).cast("bigint")).otherwise(folded)


def fnv_hash_sql(col_sql: str) -> str:
    """SQL-text form of fnv_hash for dialect rewriting / SQL UDF bodies."""
    offset = FNV64_OFFSET - (1 << 64)
    return (
        f"CASE WHEN length({col_sql}) = 0 THEN CAST({offset} AS BIGINT) ELSE "
        f"aggregate(sequence(1, length(hex(encode({col_sql}, 'UTF-8'))) div 2), "
        f"CAST({offset} AS BIGINT), "
        f"(acc, i) -> (acc ^ CAST(conv(substring(hex(encode({col_sql}, 'UTF-8')), 2*i-1, 2), 16, 10) "
        f"AS BIGINT)) * CAST({FNV64_PRIME} AS BIGINT)) END"
    )


# --------------------------------------------------------------------------
# Timestamp interval family (timestamp-functions.cc {unit}_{add,sub})

_TS_UNITS = {
    "years": "YEAR",
    "months": "MONTH",
    "weeks": "WEEK",
    "days": "DAY",
    "hours": "HOUR",
    "minutes": "MINUTE",
    "seconds": "SECOND",
    "milliseconds": "MILLISECOND",
    "microseconds": "MICROSECOND",
}


def _ts_shift(unit: str, ts: Column, n: Column | int, sign: int) -> Column:
    n = F.lit(n) if isinstance(n, int) else n
    return F.timestamp_add(_TS_UNITS[unit], (n * sign).cast("int"), ts)


def __make_ts_fns() -> dict[str, object]:
    fns: dict[str, object] = {}
    for unit in _TS_UNITS:
        fns[f"{unit}_add"] = (lambda u: lambda ts, n: _ts_shift(u, ts, n, 1))(unit)
        fns[f"{unit}_sub"] = (lambda u: lambda ts, n: _ts_shift(u, ts, n, -1))(unit)
    return fns


globals().update(__make_ts_fns())


def int_months_between(a: Column, b: Column) -> Column:
    return F.floor(F.months_between(a, b)).cast("int")


def nanoseconds_add(ts: Column, n: Column | int) -> Column:
    """timestamp-functions.cc nanoseconds_add. Spark TIMESTAMP is
    µs-precision (SURVEY §7 risk register): sub-µs components truncate
    toward zero — a documented precision difference, not a bug."""
    n = F.lit(n) if isinstance(n, int) else n
    micros = (n.cast("bigint") / 1000).cast("bigint")
    return F.timestamp_add("MICROSECOND", micros, ts)


def nanoseconds_sub(ts: Column, n: Column | int) -> Column:
    n = F.lit(n) if isinstance(n, int) else n
    return nanoseconds_add(ts, -n.cast("bigint"))


def timestamp_cmp(a: Column, b: Column) -> Column:
    """utility-functions.cc timestamp_cmp: -1/0/1, NULL if either is NULL."""
    return (
        F.when(a.isNull() | b.isNull(), F.lit(None).cast("int"))
        .when(a < b, F.lit(-1))
        .when(a > b, F.lit(1))
        .otherwise(F.lit(0))
    )


def regexp_match_count(s: Column, pat: Column | str) -> Column:
    """string-functions.cc regexp_match_count: number of (possibly empty)
    matches of ``pat`` in ``s``."""
    pat = F.lit(pat) if isinstance(pat, str) else pat
    return F.size(F.regexp_extract_all(s, pat, F.lit(0)))


def from_timestamp(ts: Column, fmt: Column | str) -> Column:
    """timestamp-functions.cc from_timestamp: format a timestamp as a
    string (the inverse of to_timestamp)."""
    return F.date_format(ts, fmt)


def decimal_precision(df, col_name: str) -> int:
    """decimal-functions.cc precision(): compile-time metadata of the
    decimal expression's type. In Spark the type lives on the DataFrame
    schema, so this is a schema lookup, not a row expression."""
    from pyspark.sql.types import DecimalType

    t = df.schema[col_name].dataType
    if not isinstance(t, DecimalType):
        raise TypeError(f"{col_name} is {t}, not DECIMAL")
    return t.precision


def decimal_scale(df, col_name: str) -> int:
    """decimal-functions.cc scale() — see decimal_precision."""
    from pyspark.sql.types import DecimalType

    t = df.schema[col_name].dataType
    if not isinstance(t, DecimalType):
        raise TypeError(f"{col_name} is {t}, not DECIMAL")
    return t.scale


# Impala/Oracle trunc() unit tokens → Spark date_trunc unit
# (timestamp-functions.cc TruncUnit; 'WW'/'W' week-of-year/month variants
# are approximated by ISO week — documented difference).
_TRUNC_UNITS = {
    "SYYYY": "year", "YYYY": "year", "YEAR": "year", "SYEAR": "year",
    "YYY": "year", "YY": "year", "Y": "year",
    "Q": "quarter",
    "MONTH": "month", "MON": "month", "MM": "month", "RM": "month",
    "WW": "week", "W": "week", "DAY": "week", "DY": "week", "D": "week",
    "DDD": "day", "DD": "day", "J": "day",
    "HH": "hour", "HH12": "hour", "HH24": "hour",
    "MI": "minute",
}


def trunc_ts(ts: Column, unit: str) -> Column:
    spark_unit = _TRUNC_UNITS.get(unit.upper())
    if spark_unit is None:
        raise ValueError(f"unsupported trunc unit: {unit!r}")
    return F.date_trunc(spark_unit, ts)


# --------------------------------------------------------------------------
# SQL registration (fixed-signature dialect names usable from spark.sql)

# Dialect names already native in Spark 4 (no registration needed):
# nullifzero, zeroifnull, getbit, decode, left/right, dayname(abbrev),
# find_in_set, parse_url, conv, instr, locate, split_part, bit_count.
_SQL_UDFS: dict[str, str] = {
    # C-style truncated remainder (math-functions.cc fmod); Spark's % on
    # doubles matches but the NAME is part of the dialect.
    # Spark's double % is C fmod at all magnitudes; the manual trunc-multiply
    # spelling saturated at BIGINT range for extreme |a/b|.
    "fmod": (
        "(a DOUBLE, b DOUBLE) RETURNS DOUBLE RETURN "
        "CASE WHEN b = 0 THEN CAST('NaN' AS DOUBLE) ELSE a % b END"
    ),
    "is_nan": "(x DOUBLE) RETURNS BOOLEAN RETURN isnan(x)",
    "is_inf": (
        "(x DOUBLE) RETURNS BOOLEAN RETURN abs(x) = CAST('Infinity' AS DOUBLE)"
    ),
    # utility-functions.cc: effective_user == user outside impersonation;
    # timeofday is the current UTC time as a display string. (pid() is not
    # reproducible on an executor fleet and is intentionally omitted;
    # dayname: Spark's builtin returns 'Mon' and builtins cannot be
    # shadowed — use dayname_full() for the reference's 'Monday'.)
    "effective_user": "() RETURNS STRING RETURN current_user()",
    "timeofday": (
        "() RETURNS STRING RETURN "
        "date_format(now(), 'EEE MMM dd HH:mm:ss yyyy zzz')"
    ),
    "dayname_full": "(t TIMESTAMP) RETURNS STRING RETURN date_format(t, 'EEEE')",
    "istrue": "(b BOOLEAN) RETURNS BOOLEAN RETURN coalesce(b, false)",
    "isfalse": "(b BOOLEAN) RETURNS BOOLEAN RETURN coalesce(NOT b, false)",
    "isnottrue": "(b BOOLEAN) RETURNS BOOLEAN RETURN NOT coalesce(b, false)",
    "isnotfalse": "(b BOOLEAN) RETURNS BOOLEAN RETURN NOT coalesce(NOT b, false)",
    "nonnullvalue": "(x STRING) RETURNS BOOLEAN RETURN x IS NOT NULL",
    "nullvalue": "(x STRING) RETURNS BOOLEAN RETURN x IS NULL",
    "strleft": "(s STRING, n INT) RETURNS STRING RETURN substring(s, 1, n)",
    # CHAR(n)/VARCHAR(n) cast + comparison semantics (types.h:54-55):
    # truncate-then-pad / truncate; CHAR equality ignores trailing blanks.
    "cast_char": (
        "(s STRING, n INT) RETURNS STRING RETURN rpad(substring(s, 1, n), n, ' ')"
    ),
    "cast_varchar": "(s STRING, n INT) RETURNS STRING RETURN substring(s, 1, n)",
    "char_eq": "(a STRING, b STRING) RETURNS BOOLEAN RETURN rtrim(a) = rtrim(b)",
    "strright": (
        "(s STRING, n INT) RETURNS STRING RETURN "
        "CASE WHEN n <= 0 THEN '' ELSE substring(s, -n, n) END"
    ),
    "rotateleft": (
        "(x BIGINT, n INT) RETURNS BIGINT RETURN "
        "CASE WHEN pmod(n, 64) = 0 THEN x "
        "ELSE shiftleft(x, pmod(n, 64)) | shiftrightunsigned(x, 64 - pmod(n, 64)) END"
    ),
    "rotateright": (
        "(x BIGINT, n INT) RETURNS BIGINT RETURN "
        "CASE WHEN pmod(n, 64) = 0 THEN x "
        "ELSE shiftrightunsigned(x, pmod(n, 64)) | shiftleft(x, 64 - pmod(n, 64)) END"
    ),
    "setbit": (
        "(x BIGINT, i INT) RETURNS BIGINT RETURN x | shiftleft(CAST(1 AS BIGINT), i)"
    ),
    "countset": "(x BIGINT) RETURNS INT RETURN bit_count(x)",
    # a DIV b is exact integral division (double-routed division loses
    # precision above 2^53).
    "quotient": (
        "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN "
        "CASE WHEN b = 0 THEN NULL ELSE a DIV b END"
    ),
    "int_months_between": (
        "(a TIMESTAMP, b TIMESTAMP) RETURNS INT RETURN "
        "CAST(floor(months_between(a, b)) AS INT)"
    ),
    # bit-byte-functions.cc named bit ops (Spark spells them as operators;
    # BIGINT width per the module-docstring convention).
    "bitand": "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a & b",
    "bitor": "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a | b",
    "bitxor": "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a ^ b",
    "bitnot": "(a BIGINT) RETURNS BIGINT RETURN ~a",
    # operators.cc IS [NOT] DISTINCT FROM function forms
    # (sql-parser.cup:2459-2463). STRING signature: SQL-UDF params are
    # monomorphic; other types go through the native operator syntax.
    "distinctfrom": (
        "(a STRING, b STRING) RETURNS BOOLEAN RETURN NOT (a <=> b)"
    ),
    "notdistinct": "(a STRING, b STRING) RETURNS BOOLEAN RETURN a <=> b",
    # math-functions.cc type-limit constants
    "max_tinyint": "() RETURNS TINYINT RETURN CAST(127 AS TINYINT)",
    "min_tinyint": "() RETURNS TINYINT RETURN CAST(-128 AS TINYINT)",
    "max_smallint": "() RETURNS SMALLINT RETURN CAST(32767 AS SMALLINT)",
    "min_smallint": "() RETURNS SMALLINT RETURN CAST(-32768 AS SMALLINT)",
    "max_int": "() RETURNS INT RETURN CAST(2147483647 AS INT)",
    "min_int": "() RETURNS INT RETURN CAST(-2147483648 AS INT)",
    "max_bigint": "() RETURNS BIGINT RETURN CAST(9223372036854775807 AS BIGINT)",
    "min_bigint": "() RETURNS BIGINT RETURN CAST(-9223372036854775808 AS BIGINT)",
    # timestamp-functions.cc residue
    "from_timestamp": (
        "(t TIMESTAMP, fmt STRING) RETURNS STRING RETURN date_format(t, fmt)"
    ),
    "timestamp_cmp": (
        "(a TIMESTAMP, b TIMESTAMP) RETURNS INT RETURN "
        "CASE WHEN a IS NULL OR b IS NULL THEN NULL "
        "WHEN a < b THEN -1 WHEN a > b THEN 1 ELSE 0 END"
    ),
    "nanoseconds_add": (
        "(t TIMESTAMP, n BIGINT) RETURNS TIMESTAMP RETURN "
        "timestampadd(MICROSECOND, n div 1000, t)"
    ),
    "nanoseconds_sub": (
        "(t TIMESTAMP, n BIGINT) RETURNS TIMESTAMP RETURN "
        "timestampadd(MICROSECOND, -(n div 1000), t)"
    ),
    # string-functions.cc regexp_match_count (2-arg form)
    "regexp_match_count": (
        "(s STRING, pat STRING) RETURNS INT RETURN "
        "size(regexp_extract_all(s, pat, 0))"
    ),
    # math-functions.cc double-typed alias names (impala_functions.py:
    # 265-276). The 1-arg dround/dtrunc/dceil/dfloor forms return BIGINT
    # in the reference (MathFunctions::Round = llround, half away from
    # zero — Spark round() on DOUBLE matches); the 2-arg dround(x, d)
    # overload can't share the name (SQL UDFs are monomorphic) and routes
    # through the native round(x, d) spelling.
    "dceil": "(x DOUBLE) RETURNS BIGINT RETURN CAST(ceil(x) AS BIGINT)",
    "dfloor": "(x DOUBLE) RETURNS BIGINT RETURN CAST(floor(x) AS BIGINT)",
    "dtrunc": "(x DOUBLE) RETURNS BIGINT RETURN CAST(x AS BIGINT)",
    "dround": "(x DOUBLE) RETURNS BIGINT RETURN CAST(round(x) AS BIGINT)",
    "dexp": "(x DOUBLE) RETURNS DOUBLE RETURN exp(x)",
    "dlog1": "(x DOUBLE) RETURNS DOUBLE RETURN ln(x)",
    "dlog10": "(x DOUBLE) RETURNS DOUBLE RETURN log10(x)",
    "dsqrt": "(x DOUBLE) RETURNS DOUBLE RETURN sqrt(x)",
    "dpow": "(a DOUBLE, b DOUBLE) RETURNS DOUBLE RETURN power(a, b)",
    "fpow": "(a DOUBLE, b DOUBLE) RETURNS DOUBLE RETURN power(a, b)",
    # timestamp-functions.cc third alias spellings (impala_functions.py:
    # 145-151: days_add/date_add/adddate share one implementation) and the
    # FE's INTERVAL-expression rewrite targets (impala_functions.py:659).
    "adddate": "(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(DAY, n, t)",
    "subdate": "(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(DAY, -n, t)",
    "months_add_interval": (
        "(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MONTH, n, t)"
    ),
    "months_sub_interval": (
        "(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MONTH, -n, t)"
    ),
    # utility-functions.cc Sleep (impala_functions.py:545) — really blocks
    # the calling thread for n ms via reflection, then returns true
    # unconditionally (the reference's Sleep always returns true; the
    # coalesce only forces evaluation of the reflect call).
    "sleep": (
        "(ms INT) RETURNS BOOLEAN RETURN "
        "coalesce(java_method('java.lang.Thread', 'sleep', CAST(ms AS BIGINT)), '') "
        ">= ''"
    ),
}


# Sessions (session_key) whose temp-function registry already holds the
# dialect functions. The 76 CREATE statements cost 0.5-0.7 s together, and
# every Engine built on a session would otherwise pay them again.
_REGISTERED: set[str] = set()


def register_sql_functions(spark: SparkSession) -> None:
    """Register the dialect names as temporary SQL functions (fixed
    signatures; polymorphic use goes through the Column helpers or the
    dialect rewriter), once per session: a later call on the same session
    returns at once, and a ``newSession()`` sibling gets its own."""
    key = session_key(spark)
    if key in _REGISTERED:
        return
    for name, body in _SQL_UDFS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION fnv_hash(s STRING) RETURNS BIGINT RETURN "
        + fnv_hash_sql("s")
    )
    for unit, spark_unit in _TS_UNITS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {unit}_add(t TIMESTAMP, n INT) "
            f"RETURNS TIMESTAMP RETURN timestampadd({spark_unit}, n, t)"
        )
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {unit}_sub(t TIMESTAMP, n INT) "
            f"RETURNS TIMESTAMP RETURN timestampadd({spark_unit}, -n, t)"
        )
    # Marked only once every statement ran: a concurrent caller that sees
    # the key can rely on every function being there.
    _REGISTERED.add(key)
