"""Redshift-SQL -> Spark-SQL transpiler (token-level, string-safe).

Design: a lossless tokenizer (``"".join(tok.text) == sql``) and a
series of token-stream rewrites. String literals and comments are
never touched; every rewrite that cannot be done faithfully raises
:class:`TranspileError` instead of guessing (the repo's loud-stop
discipline).

Reference dialect witnesses (public repo ravi9data/etl_pipelines):
``1_union_all_sources.sql`` (``::``, quoted-unit DATEADD),
``all_events.sql`` (``"user_id" ~ '^[0-9]+$'``), kitchen-sink usage of
JSON_EXTRACT_PATH_TEXT / IS_VALID_JSON / TO_CHAR / LISTAGG / QUALIFY
across Datawarehouse-ETL. Spark-native constructs (``::`` casts,
3-arg DATEADD/DATEDIFF with bare units, LISTAGG/PERCENTILE_CONT
WITHIN GROUP, NVL/NVL2/DECODE, ILIKE, SPLIT_PART, LEN, MEDIAN,
CONVERT_TIMEZONE, BOOL_OR, ``||``) pass through untouched.
"""
from __future__ import annotations

import re
from dataclasses import dataclass

from ..functions import _translate_to_char_format


class TranspileError(ValueError):
    """A dialect construct that cannot be rewritten faithfully."""


# ---------------------------------------------------------------- tokenizer

_OPS = ["!~~*", "!~~", "~~*", "~~", "!~*", "!~", "~*", "::", "<=",
        ">=", "<>", "!=", "||", "~"]
_WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_$]*")
_NUM_RE = re.compile(r"(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")


@dataclass
class Tok:
    kind: str  # ws comment str qid word num op punct jinja
    text: str


def tokenize(sql: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            toks.append(Tok("ws", sql[i:j]))
            i = j
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j < 0 else j
            toks.append(Tok("comment", sql[i:j]))
            i = j
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n if j < 0 else j + 2
            toks.append(Tok("comment", sql[i:j]))
            i = j
        elif sql.startswith("{{", i):
            j = sql.find("}}", i + 2)
            j = n if j < 0 else j + 2
            toks.append(Tok("jinja", sql[i:j]))
            i = j
        elif c == "'":
            j = i + 1
            while j < n:
                if sql.startswith("{{", j):
                    # a Jinja hole inside a literal may itself contain
                    # quotes ('{{ti.xcom_pull(key='year')}}' --
                    # braze stage_data.sql); skip it opaquely
                    k = sql.find("}}", j + 2)
                    j = n if k < 0 else k + 2
                    continue
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # '' escape
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            toks.append(Tok("str", sql[i:j]))
            i = j
        elif c == '"':
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            toks.append(Tok("qid", sql[i:j]))
            i = j
        elif c == "`":
            # backtick identifier (our own emitted form — see
            # _rw_qid_backtick): lex as qid so transpiled text
            # round-trips through tokenize()
            j = i + 1
            while j < n:
                if sql[j] == "`":
                    if j + 1 < n and sql[j + 1] == "`":  # `` escape
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            toks.append(Tok("qid", sql[i:j]))
            i = j
        else:
            for op in _OPS:
                if sql.startswith(op, i):
                    toks.append(Tok("op", op))
                    i += len(op)
                    break
            else:
                m = _WORD_RE.match(sql, i)
                if m:
                    toks.append(Tok("word", m.group()))
                    i = m.end()
                    continue
                m = _NUM_RE.match(sql, i)
                if m:
                    toks.append(Tok("num", m.group()))
                    i = m.end()
                    continue
                toks.append(Tok("punct", c))
                i += 1
    return toks


def _render(toks: list[Tok]) -> str:
    return "".join(t.text for t in toks)


def _is_sig(t: Tok) -> bool:
    return t.kind not in ("ws", "comment")


def _next_sig(toks: list[Tok], i: int) -> int:
    j = i + 1
    while j < len(toks) and not _is_sig(toks[j]):
        j += 1
    return j  # == len(toks) when none


def _prev_sig(toks: list[Tok], i: int) -> int:
    j = i - 1
    while j >= 0 and not _is_sig(toks[j]):
        j -= 1
    return j  # == -1 when none


def _word_is(t: Tok, *names: str) -> bool:
    return t.kind == "word" and t.text.upper() in names


def _str_value(t: Tok) -> str:
    assert t.kind == "str"
    return t.text[1:-1].replace("''", "'")


def _str_lit(v: str) -> Tok:
    return Tok("str", "'" + v.replace("'", "''") + "'")


def _depths(toks: list[Tok]) -> list[int]:
    """Paren depth of each token (depth of the context it sits in;
    '(' itself gets the outer depth, ')' gets the inner depth)."""
    out, d = [], 0
    for t in toks:
        if t.kind == "punct" and t.text == "(":
            out.append(d)
            d += 1
        elif t.kind == "punct" and t.text == ")":
            d -= 1
            out.append(d + 1)
        else:
            out.append(d)
    return out


def _call_args(toks: list[Tok], open_i: int) -> tuple[list[list[int]], int]:
    """Given index of '(', return (arg token-index lists split on
    top-level commas, index of matching ')')."""
    depth = 0
    args: list[list[int]] = [[]]
    j = open_i
    while j < len(toks):
        t = toks[j]
        if t.kind == "punct" and t.text == "(":
            depth += 1
            if depth > 1:
                args[-1].append(j)
        elif t.kind == "punct" and t.text == ")":
            depth -= 1
            if depth == 0:
                return args, j
            args[-1].append(j)
        elif t.kind == "punct" and t.text == "," and depth == 1:
            args.append([])
        elif depth >= 1:
            args[-1].append(j)
        j += 1
    raise TranspileError("unbalanced parentheses")


def _arg_sig(toks: list[Tok], arg: list[int]) -> list[int]:
    return [k for k in arg if _is_sig(toks[k])]


# ---------------------------------------------------------------- rewrites

_DATE_UNITS = {
    "year", "years", "yr", "yrs", "quarter", "quarters", "month",
    "months", "mon", "mons", "week", "weeks", "day", "days", "d",
    "hour", "hours", "hr", "hrs", "h", "minute", "minutes", "min",
    "mins", "m", "second", "seconds", "sec", "secs", "s",
    "millisecond", "milliseconds", "ms", "microsecond",
    "microseconds", "us", "y", "w", "qtr", "qtrs", "mm", "dd",
    "hh", "mi", "ss", "doy", "dow",
}

_UNIT_CANON = {
    "y": "year", "yr": "year", "yrs": "year", "years": "year",
    "yyyy": "year", "qtr": "quarter", "qtrs": "quarter",
    "quarters": "quarter", "mon": "month", "mons": "month",
    "months": "month", "mm": "month", "w": "week", "weeks": "week",
    "days": "day", "d": "day", "dd": "day", "hours": "hour",
    "hr": "hour", "hrs": "hour", "h": "hour", "hh": "hour",
    "minutes": "minute", "min": "minute", "mins": "minute",
    "m": "minute", "mi": "minute", "seconds": "second",
    "sec": "second", "secs": "second", "s": "second", "ss": "second",
    "milliseconds": "millisecond", "ms": "millisecond",
    "microseconds": "microsecond", "us": "microsecond",
}


_FN_RENAMES = {
    # direct arity-compatible Spark natives
    "replicate": "repeat",        # REPLICATE(s, n) == repeat
    "json_parse": "parse_json",   # SUPER ingest -> VARIANT
    "json_serialize": "to_json",  # SUPER -> text
}


def _rw_words(toks: list[Tok]) -> list[Tok]:
    """GETDATE()/SYSDATE -> current_timestamp(); #ident -> tmp_ident;
    arity-compatible function renames (REPLICATE -> repeat, ...)."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            t.kind == "word"
            and t.text.lower() in _FN_RENAMES
            and _next_sig(toks, i) < len(toks)
            and toks[_next_sig(toks, i)].text == "("
        ):
            out.append(Tok("word", _FN_RENAMES[t.text.lower()]))
        elif _word_is(t, "GETDATE"):
            out.append(Tok("word", "current_timestamp"))
        elif _word_is(t, "SYSDATE"):
            out.append(Tok("word", "current_timestamp"))
            out.append(Tok("punct", "("))
            out.append(Tok("punct", ")"))
        elif (
            t.kind == "punct"
            and t.text == "#"
            and i + 1 < len(toks)
            and toks[i + 1].kind == "word"
        ):
            out.append(Tok("word", "tmp_" + toks[i + 1].text))
            i += 2
            continue
        else:
            out.append(t)
        i += 1
    return out


# keywords that may directly precede a unary expression — a word in
# this set can never END an operand, so a `~` after it is bitwise NOT
_NON_OPERAND_KW = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE",
    "ON", "BY", "IN", "CASE", "DISTINCT", "ALL", "AS", "FROM",
    "JOIN", "HAVING", "SET", "VALUES", "LIKE", "ILIKE", "RLIKE",
    "BETWEEN", "IS", "ESCAPE", "UNION", "INTERSECT", "EXCEPT",
    "LIMIT", "OFFSET", "OVER", "PARTITION",
}


def _rw_tilde(toks: list[Tok]) -> list[Tok]:
    """Binary ``~``/``!~``/``~*``/``!~*`` -> [NOT] RLIKE, and the
    Postgres LIKE operators ``~~``/``!~~``/``~~*``/``!~~*`` ->
    [NOT] LIKE / ILIKE (mozenda_ebay.sql uses ``~~``).

    A ``~`` is binary when the previous significant token can end an
    operand (identifier, literal, ``)``); otherwise it is bitwise NOT
    and passes through. Reserved keywords (SELECT, WHERE, AND, …) are
    words but can NOT end an operand — ``SELECT ~5`` is unary bitwise
    NOT (r6 advice: it used to become the fused identifier
    ``RLIKE5``)."""
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        if t.kind == "op" and t.text in ("~~", "!~~", "~~*", "!~~*"):
            neg = t.text.startswith("!")
            kw = "ILIKE" if t.text.endswith("*") else "LIKE"
            repl = []
            if neg:
                repl += [Tok("word", "NOT"), Tok("ws", " ")]
            repl.append(Tok("word", kw))
            repl.append(Tok("ws", " "))
            out[i : i + 1] = repl
            i += len(repl)
            continue
        if t.kind == "op" and t.text in ("~", "!~", "~*", "!~*"):
            p = _prev_sig(out, i)
            binary = p >= 0 and (
                (
                    out[p].kind == "word"
                    and out[p].text.upper() not in _NON_OPERAND_KW
                )
                or out[p].kind in ("str", "qid", "num")
                or (out[p].kind == "punct" and out[p].text == ")")
            )
            if not binary:
                i += 1
                continue
            neg = t.text.startswith("!")
            ci = t.text.endswith("*")
            repl: list[Tok] = []
            if neg:
                repl.append(Tok("word", "NOT"))
                repl.append(Tok("ws", " "))
            repl.append(Tok("word", "RLIKE"))
            repl.append(Tok("ws", " "))
            out[i : i + 1] = repl
            if ci:
                j = _next_sig(out, i + len(repl) - 1)
                if j >= len(out) or out[j].kind != "str":
                    raise TranspileError(
                        "~* requires a literal pattern to inject (?i)"
                    )
                out[j] = _str_lit("(?i)" + _str_value(out[j]))
        i += 1
    return out


def _sql_regex_to_java(pattern: str) -> str:
    """SIMILAR TO pattern -> Java regex (mirrors
    functions.similar_to: % -> .*, _ -> .)."""
    return pattern.replace("%", ".*").replace("_", ".")


def _rw_similar_to(toks: list[Tok]) -> list[Tok]:
    out = list(toks)
    i = 0
    while i < len(out):
        if _word_is(out[i], "SIMILAR"):
            j = _next_sig(out, i)
            if j < len(out) and _word_is(out[j], "TO"):
                k = _next_sig(out, j)
                if k >= len(out) or out[k].kind != "str":
                    raise TranspileError(
                        "SIMILAR TO requires a literal pattern"
                    )
                pat = _sql_regex_to_java(_str_value(out[k]))
                out[i : k + 1] = [
                    Tok("word", "RLIKE"),
                    Tok("ws", " "),
                    _str_lit(f"^(?:{pat})$"),
                ]
        i += 1
    return out


def _rw_quoted_units(toks: list[Tok]) -> list[Tok]:
    """DATEADD('month', ...) / DATEDIFF('day', a, b) /
    DATE_PART('dow', x) / EXTRACT('epoch' ...): unquote the unit --
    Spark wants a bare keyword (date_trunc accepts quoted natively)."""
    out = list(toks)
    for i, t in enumerate(out):
        if _word_is(t, "DATEADD", "DATEDIFF", "DATE_ADD", "DATE_DIFF",
                    "DATE_PART"):
            j = _next_sig(out, i)
            if j < len(out) and out[j].kind == "punct" and out[j].text == "(":
                if _word_is(t, "DATE_PART"):
                    # date_part keeps the quoted form natively
                    continue
                args, _close = _call_args(out, j)
                if len(args) != 3:
                    # 2-arg date_add(date, n): first arg is data, not
                    # a unit -- a column named `d` must survive
                    continue
                k = _next_sig(out, j)
                if k < len(out) and out[k].kind == "str":
                    unit = _str_value(out[k]).strip().lower()
                    if unit in _DATE_UNITS:
                        out[k] = Tok(
                            "word", _UNIT_CANON.get(unit, unit)
                        )
                elif k < len(out) and out[k].kind == "word":
                    u = out[k].text.lower()
                    if u in _UNIT_CANON:
                        out[k] = Tok("word", _UNIT_CANON[u])
        elif _word_is(t, "EXTRACT"):
            # EXTRACT('epoch' FROM x) -> EXTRACT(epoch FROM x)
            # (01_customer_scoring.sql); Spark wants a bare field.
            j = _next_sig(out, i)
            if j < len(out) and out[j].kind == "punct" and out[j].text == "(":
                k = _next_sig(out, j)
                m = _next_sig(out, k) if k < len(out) else len(out)
                if (
                    k < len(out)
                    and out[k].kind == "str"
                    and m < len(out)
                    and _word_is(out[m], "FROM")
                ):
                    unit = _str_value(out[k]).strip().lower()
                    out[k] = Tok(
                        "word", _UNIT_CANON.get(unit, unit)
                    )
    return out


def _rw_interval_glued(toks: list[Tok]) -> list[Tok]:
    """Redshift tolerates a glued interval string (``INTERVAL
    '1MONTH'``, 12_Mix_reporting et al.); Spark's interval parser
    requires the space ("Can only use numbers in the interval value
    part"). Insert it when the literal is exactly digits+unit."""
    out = list(toks)
    for i, t in enumerate(out):
        if not _word_is(t, "INTERVAL"):
            continue
        j = _next_sig(out, i)
        if j < len(out) and out[j].kind == "str":
            m = re.fullmatch(
                r"\s*(\d+)([A-Za-z]+)\s*", _str_value(out[j])
            )
            if m:
                out[j] = _str_lit(f"{m.group(1)} {m.group(2)}")
    return out


_DD_BOUNDARY_UNITS = {
    "second", "minute", "hour", "day", "week",
    "month", "quarter", "year",
}


def _rw_datediff_boundary(toks: list[Tok]) -> list[Tok]:
    """Redshift DATEDIFF counts unit BOUNDARIES crossed
    (``datediff('year', '2023-12-31', '2024-01-01') = 1``); Spark's
    native 3-arg datediff/timestampdiff counts COMPLETE elapsed
    units — it analyzes clean and silently returns different values
    for timestamp inputs (and for month/quarter/year/week even on
    dates). 437 corpus call sites (day 244, month 125, hour 44, …).
    Rewrite ``DATEDIFF(unit, s, e)`` to the session-registered
    ``dd_boundary_<unit>(s, e)`` SQL UDFs, whose RETURN expressions
    mirror the oracle-validated ``functions.datediff`` boundary
    forms and are Catalyst-inlined. Runs AFTER _rw_quoted_units, so
    the unit is a bare canonical word; unrecognized units pass
    through to Spark's native parse."""
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        if not (t.kind == "word" and t.text.upper() == "DATEDIFF"):
            i += 1
            continue
        j = _next_sig(out, i)
        if not (j < len(out) and out[j].kind == "punct"
                and out[j].text == "("):
            i += 1
            continue
        args, _close = _call_args(out, j)
        if len(args) != 3:
            i += 1
            continue
        a0 = _arg_sig(out, args[0])
        if not (len(a0) == 1 and out[a0[0]].kind == "word"):
            i += 1
            continue
        unit = out[a0[0]].text.lower()
        if unit not in _DD_BOUNDARY_UNITS:
            i += 1
            continue
        out[i] = Tok("word", f"dd_boundary_{unit}")
        # drop the unit arg + comma + leading ws of the next arg
        out[j + 1 : _arg_sig(out, args[1])[0]] = []
        i += 1
    return out


_TYPE_ALWAYS = {
    # Redshift type names with no other plausible reading -- safe to
    # rewrite anywhere they appear as a bare word.
    "int2": "smallint", "int4": "int", "int8": "bigint",
    "float4": "float", "float8": "double",
    "timestamptz": "timestamp", "timetz": "string",
    "bpchar": "string", "nvarchar": "string", "bool": "boolean",
}


def _matching_open(toks: list[Tok], close_i: int) -> int:
    depth = 0
    for k in range(close_i, -1, -1):
        t = toks[k]
        if t.kind == "punct" and t.text == ")":
            depth += 1
        elif t.kind == "punct" and t.text == "(":
            depth -= 1
            if depth == 0:
                return k
    return -1


def _rw_types(toks: list[Tok]) -> list[Tok]:
    """Redshift type names -> Spark types: INT8/FLOAT8/TIMESTAMPTZ
    et al. anywhere; length-less VARCHAR -> STRING; TEXT -> STRING
    only in a cast position (after ``::`` or ``CAST(... AS TEXT)``)
    since ``text`` is a plausible column name; CHARACTER VARYING ->
    STRING/VARCHAR(n)."""
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        if t.kind == "word":
            lw = t.text.lower()
            if lw in _TYPE_ALWAYS:
                out[i] = Tok("word", _TYPE_ALWAYS[lw])
            elif lw == "varchar":
                j = _next_sig(out, i)
                if not (
                    j < len(out)
                    and out[j].kind == "punct"
                    and out[j].text == "("
                ):
                    out[i] = Tok("word", "string")
                else:
                    # VARCHAR(MAX) (Redshift's unbounded form,
                    # ::varchar(max) in the snowplow event props) —
                    # Spark's varchar takes only a number
                    k = _next_sig(out, j)
                    m = _next_sig(out, k) if k < len(out) else len(out)
                    if (
                        m < len(out)
                        and _word_is(out[k], "MAX")
                        and out[m].kind == "punct"
                        and out[m].text == ")"
                    ):
                        out[i : m + 1] = [Tok("word", "string")]
            elif lw == "timestamp":
                # TIMESTAMP(p) precision form (::timestamp(0)) —
                # Spark's type takes no precision; a NUMBER argument
                # can only be the precision (timestamp() the function
                # never takes a bare numeric literal in this corpus)
                j = _next_sig(out, i)
                if (
                    j < len(out)
                    and out[j].kind == "punct"
                    and out[j].text == "("
                ):
                    k = _next_sig(out, j)
                    m = _next_sig(out, k) if k < len(out) else len(out)
                    if (
                        m < len(out)
                        and out[k].kind == "num"
                        and out[m].kind == "punct"
                        and out[m].text == ")"
                    ):
                        del out[i + 1 : m + 1]
                # TIMESTAMP WITH[OUT] TIME ZONE -> TIMESTAMP
                j = _next_sig(out, i)
                if j < len(out) and _word_is(out[j], "WITH", "WITHOUT"):
                    k = _next_sig(out, j)
                    m = _next_sig(out, k) if k < len(out) else len(out)
                    if (
                        m < len(out)
                        and _word_is(out[k], "TIME")
                        and _word_is(out[m], "ZONE")
                    ):
                        del out[i + 1 : m + 1]
            elif lw in ("text", "datetime", "json"):
                p = _prev_sig(out, i)
                cast_pos = False
                if p >= 0 and out[p].kind == "op" and out[p].text == "::":
                    cast_pos = True
                elif p >= 0 and _word_is(out[p], "AS"):
                    j = _next_sig(out, i)
                    if (
                        j < len(out)
                        and out[j].kind == "punct"
                        and out[j].text == ")"
                    ):
                        o = _matching_open(out, j)
                        q = _prev_sig(out, o) if o > 0 else -1
                        if q >= 0 and _word_is(
                            out[q], "CAST", "TRY_CAST"
                        ):
                            cast_pos = True
                if cast_pos:
                    out[i] = Tok(
                        "word",
                        "timestamp" if lw == "datetime" else "string",
                    )
            elif lw == "double":
                # DOUBLE PRECISION -> DOUBLE (Spark has no two-word
                # form; ~110 statements in Luxco/SPV reporting)
                j = _next_sig(out, i)
                if j < len(out) and _word_is(out[j], "PRECISION"):
                    del out[i + 1 : j + 1]
            elif lw == "character":
                j = _next_sig(out, i)
                if j < len(out) and _word_is(out[j], "VARYING"):
                    k = _next_sig(out, j)
                    if (
                        k < len(out)
                        and out[k].kind == "punct"
                        and out[k].text == "("
                    ):
                        out[i : j + 1] = [Tok("word", "varchar")]
                    else:
                        out[i : j + 1] = [Tok("word", "string")]
        i += 1
    return out


def _rw_minmax_within_group(toks: list[Tok]) -> list[Tok]:
    """``MIN/MAX(x) WITHIN GROUP (ORDER BY ...)`` -> drop the clause
    (00_grover_user.sql et al.): min/max are order-insensitive, so
    the sort spec changes nothing. Spark only parses WITHIN GROUP on
    the ordered-set aggregates (listagg/percentile)."""
    out = list(toks)
    i = 0
    while i < len(out):
        if _word_is(out[i], "MIN", "MAX"):
            j = _next_sig(out, i)
            if j < len(out) and out[j].kind == "punct" and out[j].text == "(":
                _args, close = _call_args(out, j)
                w = _next_sig(out, close)
                g = _next_sig(out, w) if w < len(out) else len(out)
                o = _next_sig(out, g) if g < len(out) else len(out)
                if (
                    o < len(out)
                    and _word_is(out[w], "WITHIN")
                    and _word_is(out[g], "GROUP")
                    and out[o].kind == "punct"
                    and out[o].text == "("
                ):
                    _a2, close2 = _call_args(out, o)
                    del out[close + 1 : close2 + 1]
        i += 1
    return out


def _rw_ignore_nulls(toks: list[Tok]) -> list[Tok]:
    """Redshift puts IGNORE/RESPECT NULLS *inside* the window
    function's parens (``LAG(x IGNORE NULLS) OVER``); Spark wants it
    outside (``LAG(x) IGNORE NULLS OVER``)."""
    out = list(toks)
    i = 0
    while i < len(out):
        if _word_is(out[i], "IGNORE", "RESPECT"):
            j = _next_sig(out, i)
            if j < len(out) and _word_is(out[j], "NULLS"):
                k = _next_sig(out, j)
                if (
                    k < len(out)
                    and out[k].kind == "punct"
                    and out[k].text == ")"
                ):
                    m = _next_sig(out, k)
                    if m < len(out) and _word_is(out[m], "OVER"):
                        kw = out[i].text.upper()
                        del out[i : j + 1]
                        # ')' moved left by the deletion span
                        k2 = i
                        while not (
                            out[k2].kind == "punct"
                            and out[k2].text == ")"
                        ):
                            k2 += 1
                        out[k2 + 1 : k2 + 1] = [
                            Tok("ws", " "),
                            Tok("word", kw),
                            Tok("ws", " "),
                            Tok("word", "NULLS"),
                        ]
        i += 1
    return out


_TRUNC_UNITS = {
    "year", "yyyy", "yy", "quarter", "month", "mm", "mon", "week",
}
# Dateparts below trunc()'s month/week floor (r11 ADVICE #2): Spark's
# trunc can't express them but date_trunc (unit-first, like the
# Redshift call being shimmed) can — map Redshift abbreviations to
# the canonical Spark date_trunc unit. 'm' is excluded as ambiguous
# between month and minute across dialects.
_DATE_TRUNC_CANON = {
    "day": "day", "dd": "day", "d": "day", "days": "day",
    "hour": "hour", "h": "hour", "hr": "hour", "hrs": "hour",
    "hours": "hour",
    "minute": "minute", "min": "minute", "mins": "minute",
    "minutes": "minute",
    "second": "second", "sec": "second", "secs": "second",
    "seconds": "second", "s": "second",
    "millisecond": "millisecond", "ms": "millisecond",
    "msec": "millisecond", "milliseconds": "millisecond",
    "microsecond": "microsecond", "us": "microsecond",
    "usec": "microsecond", "microseconds": "microsecond",
    "w": "week", "wk": "week", "weeks": "week",
}


def _rw_fn_arity(toks: list[Tok]) -> list[Tok]:
    """Redshift function-arity shims with no direct Spark form:

    - ``NVL(a, b, c, ...)`` — Redshift NVL is variadic; Spark's is
      strictly 2-arg. 3+-arg calls rename to COALESCE (identical
      semantics; NVL *is* first-non-null).
    - ``TRUNC('month', x)`` (unit-first, 9_SPV uses it ~600×) —
      Spark's trunc is (date, unit): the unit-first call ANALYZES
      CLEAN and silently returns NULL for every row ('month' parses
      as the date operand). Swap to ``TRUNC(x, 'month')`` when the
      first arg is a literal unit Spark's trunc accepts — a silent
      all-NULL divergence becomes the correct month-start date.
    - ``REGEXP_SUBSTR(s, pat, 1, 1 [, 'i'])`` — Redshift's
      position/occurrence/parameters tail; Spark takes (str,
      regexp) only. position=1 + occurrence=1 literals simply drop
      (they ARE the 2-arg default), and a literal 'i' parameter
      folds into the pattern as an inline (?i) flag when the
      pattern is itself a literal. Non-default positions or
      occurrences have no mechanical Spark form — loud-stop."""
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        if t.kind != "word":
            i += 1
            continue
        name = t.text.upper()
        if name not in (
            "NVL", "TRUNC", "REGEXP_SUBSTR", "DATE_DIFF", "DATE_ADD",
            "JSON_ARRAY_LENGTH", "ISNULL",
        ):
            i += 1
            continue
        j = _next_sig(out, i)
        if not (j < len(out) and out[j].kind == "punct"
                and out[j].text == "("):
            i += 1
            continue
        args, close = _call_args(out, j)
        if name == "NVL" and len(args) > 2:
            out[i] = Tok("word", "coalesce")
        elif name in ("DATE_DIFF", "DATE_ADD") and len(args) == 3:
            # Spark 4 parses the Redshift 3-arg unit-first forms as
            # DATEDIFF/DATEADD but NOT under the underscore
            # spellings (`date_diff` is strictly the 2-arg
            # (end, start) builtin) — rename; _rw_quoted_units then
            # unquotes the unit as usual.
            out[i] = Tok(
                "word",
                "datediff" if name == "DATE_DIFF" else "dateadd",
            )
        elif name == "JSON_ARRAY_LENGTH" and len(args) == 2:
            # Redshift's 2nd arg is null_if_invalid; Spark's 1-arg
            # json_array_length already returns NULL on invalid
            # JSON, so a literal flag simply drops (TRUE and FALSE
            # both: Spark cannot error-on-invalid, and the corpus
            # only ever passes TRUE).
            a1 = _arg_sig(out, args[1])
            if len(a1) == 1 and _word_is(out[a1[0]], "TRUE", "FALSE"):
                end0 = args[0][-1] + 1
                out[end0:close] = []
        elif name == "ISNULL" and len(args) == 2:
            # SQL-Server-style ISNULL(check, replacement) — Spark's
            # isnull is the 1-arg null test; the 2-arg intent is NVL.
            out[i] = Tok("word", "nvl")
        elif name == "TRUNC" and len(args) == 1:
            # Redshift 1-arg TRUNC(timestamp) truncates to DAY and
            # returns DATE == Spark's to_date. (Numeric 1-arg TRUNC
            # exists in Redshift but appears nowhere in the corpus —
            # every call site is date-typed; a numeric arg would
            # surface as a loud analysis error, not a silent NULL.)
            out[i] = Tok("word", "to_date")
        elif name == "TRUNC" and len(args) == 2:
            a0 = _arg_sig(out, args[0])
            if len(a0) == 1 and out[a0[0]].kind == "str":
                lit = _str_value(out[a0[0]]).lower()
                if lit in _TRUNC_UNITS:
                    unit = out[a0[0]]
                    rest = [out[k] for k in args[1]]
                    # drop leading/trailing ws of the second arg
                    while rest and not _is_sig(rest[0]):
                        rest.pop(0)
                    while rest and not _is_sig(rest[-1]):
                        rest.pop()
                    repl = rest + [
                        Tok("punct", ","), Tok("ws", " "), unit,
                    ]
                    out[j + 1 : close] = repl
                elif lit in _DATE_TRUNC_CANON:
                    # below trunc()'s floor: rename the call to
                    # date_trunc, which is unit-first already —
                    # canonicalize the unit literal in place
                    out[i] = Tok("word", "date_trunc")
                    out[a0[0]] = _str_lit(_DATE_TRUNC_CANON[lit])
                else:
                    # r11 ADVICE #2: any other literal-string first
                    # arg would analyze clean in Spark ('x' parses
                    # as the date operand) and return NULL for every
                    # row — the silent divergence this shim exists
                    # to prevent. Loud-stop instead.
                    raise TranspileError(
                        f"TRUNC({lit!r}, ...) unit-first with an "
                        "unrecognized datepart has no Spark form"
                    )
        elif name == "REGEXP_SUBSTR" and len(args) >= 3:
            sigs = [_arg_sig(out, a) for a in args]

            def _lit_one(sig: list[int]) -> bool:
                return (
                    len(sig) == 1 and out[sig[0]].kind == "num"
                    and out[sig[0]].text == "1"
                )

            def _lit_int(sig: list[int]) -> int | None:
                if (
                    len(sig) == 1 and out[sig[0]].kind == "num"
                    and out[sig[0]].text.isdigit()
                ):
                    return int(out[sig[0]].text)
                return None

            if not _lit_one(sigs[2]):
                raise TranspileError(
                    "REGEXP_SUBSTR position != 1 has no Spark form"
                )
            occ = 1
            if len(args) >= 4:
                occ_val = _lit_int(sigs[3])
                if occ_val is None or occ_val < 1:
                    raise TranspileError(
                        "REGEXP_SUBSTR occurrence must be a literal "
                        "positive integer"
                    )
                occ = occ_val
            pat_repl = None
            if len(args) >= 5:
                psig = sigs[4]
                if not (
                    len(psig) == 1 and out[psig[0]].kind == "str"
                ):
                    raise TranspileError(
                        "REGEXP_SUBSTR parameters must be a literal"
                    )
                parms = _str_value(out[psig[0]]).lower()
                if parms not in ("i", "c", ""):
                    raise TranspileError(
                        f"REGEXP_SUBSTR parameter {parms!r} has no "
                        "Spark form"
                    )
                if "i" in parms:
                    pat_sig = sigs[1]
                    if not (
                        len(pat_sig) == 1
                        and out[pat_sig[0]].kind == "str"
                    ):
                        raise TranspileError(
                            "REGEXP_SUBSTR 'i' needs a literal "
                            "pattern"
                        )
                    pat_repl = _str_lit(
                        "(?i)" + _str_value(out[pat_sig[0]])
                    )
            pat_toks = (
                [Tok("ws", " "), pat_repl]
                if pat_repl is not None
                else [out[k] for k in args[1]]
            )
            if occ == 1:
                keep = [out[k] for k in args[0]]
                keep.append(Tok("punct", ","))
                keep += pat_toks
                out[j + 1 : close] = keep
            else:
                # Nth occurrence (the Gmail tracking-link extracts,
                # occ 1..5): Spark's regexp_substr has no occurrence
                # arg, but regexp_extract_all materializes every
                # match — take the Nth. try_element_at keeps the
                # out-of-range case NULL under any ANSI setting,
                # matching the 2-arg path's no-match result.
                repl = [
                    Tok("word", "try_element_at"), Tok("punct", "("),
                    Tok("word", "regexp_extract_all"),
                    Tok("punct", "("),
                ]
                repl += [out[k] for k in args[0]]
                repl.append(Tok("punct", ","))
                repl += pat_toks
                repl += [
                    Tok("punct", ","), Tok("ws", " "), Tok("num", "0"),
                    Tok("punct", ")"), Tok("punct", ","),
                    Tok("ws", " "), Tok("num", str(occ)),
                    Tok("punct", ")"),
                ]
                out[i : close + 1] = repl
        i += 1
    return out


def _rw_listagg_distinct_order(toks: list[Tok]) -> list[Tok]:
    """``LISTAGG(DISTINCT x, sep) WITHIN GROUP (ORDER BY y)`` with
    y ≠ x: ordering DEDUPED values by a different column is
    ill-defined (after dedup there is no one y per x) — modern
    Redshift itself requires the ORDER BY of a DISTINCT LISTAGG to
    be the listagg expression, and Spark rejects the mismatch
    (INVALID_WITHIN_GROUP_EXPRESSION.MISMATCH_WITH_DISTINCT_INPUT,
    8 reference statements from older-Redshift-era finance marts).
    Rewrite the ORDER BY list to the DISTINCT input expression —
    the one deterministic order both engines accept."""
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        if not (t.kind == "word" and t.text.upper() == "LISTAGG"):
            i += 1
            continue
        j = _next_sig(out, i)
        if not (j < len(out) and out[j].kind == "punct"
                and out[j].text == "("):
            i += 1
            continue
        args, close = _call_args(out, j)
        a0 = _arg_sig(out, args[0])
        if not (a0 and _word_is(out[a0[0]], "DISTINCT")):
            i += 1
            continue
        expr_idx = [k for k in args[0] if k > a0[0]]
        while expr_idx and not _is_sig(out[expr_idx[0]]):
            expr_idx.pop(0)
        while expr_idx and not _is_sig(out[expr_idx[-1]]):
            expr_idx.pop()
        if not expr_idx:
            i += 1
            continue
        # WITHIN GROUP ( ORDER BY ... )
        w = _next_sig(out, close)
        g = _next_sig(out, w) if w < len(out) else len(out)
        p = _next_sig(out, g) if g < len(out) else len(out)
        if not (
            p < len(out)
            and _word_is(out[w], "WITHIN") and _word_is(out[g], "GROUP")
            and out[p].kind == "punct" and out[p].text == "("
        ):
            i += 1
            continue
        o = _next_sig(out, p)
        b = _next_sig(out, o) if o < len(out) else len(out)
        if not (b < len(out) and _word_is(out[o], "ORDER")
                and _word_is(out[b], "BY")):
            i += 1
            continue
        d = 0
        e = p
        while e < len(out):
            te = out[e]
            if te.kind == "punct" and te.text == "(":
                d += 1
            elif te.kind == "punct" and te.text == ")":
                d -= 1
                if d == 0:
                    break
            e += 1
        if e >= len(out):
            i += 1
            continue
        def _norm(idx: list[int]) -> str:
            return "".join(
                out[k].text.lower() for k in idx if _is_sig(out[k])
            )
        order_idx = list(range(b + 1, e))
        # r11 ADVICE #1: trailing ASC/DESC/NULLS FIRST|LAST are
        # direction modifiers, not part of the order EXPRESSION —
        # `ORDER BY x DESC` for input x is accepted by Spark as-is
        # and must not be rewritten (the old _norm mismatch silently
        # reversed it). Strip them before comparing; preserve them
        # when only the expression itself mismatches.
        order_sig = [k for k in order_idx if _is_sig(out[k])]
        mod_start = len(order_sig)
        if mod_start >= 2 and _word_is(
            out[order_sig[mod_start - 2]], "NULLS"
        ) and (
            _word_is(out[order_sig[mod_start - 1]], "FIRST")
            or _word_is(out[order_sig[mod_start - 1]], "LAST")
        ):
            mod_start -= 2
        if mod_start >= 1 and (
            _word_is(out[order_sig[mod_start - 1]], "ASC")
            or _word_is(out[order_sig[mod_start - 1]], "DESC")
        ):
            mod_start -= 1
        core_idx = order_sig[:mod_start]
        mod_idx = order_sig[mod_start:]
        if _norm(core_idx) != _norm(expr_idx):
            # modifiers carry over only for a single-key ORDER BY —
            # grafting the last key's DESC onto a rewritten
            # multi-key list would invent a direction
            depth = 0
            multi_key = False
            for k in core_idx:
                tk = out[k]
                if tk.kind == "punct" and tk.text == "(":
                    depth += 1
                elif tk.kind == "punct" and tk.text == ")":
                    depth -= 1
                elif tk.kind == "punct" and tk.text == "," and depth == 0:
                    multi_key = True
            repl = [Tok("ws", " ")] + [out[k] for k in expr_idx]
            if not multi_key:
                for k in mod_idx:
                    repl += [Tok("ws", " "), out[k]]
            out[b + 1 : e] = repl
        i += 1
    return out


_ORDER_REQUIRED_WINFNS = (
    "ROW_NUMBER", "RANK", "DENSE_RANK", "NTILE", "LAG", "LEAD",
    "PERCENT_RANK", "CUME_DIST",
)


def _rw_orderless_window(toks: list[Tok]) -> list[Tok]:
    """Redshift's sequence window functions take an OPTIONAL ORDER BY
    (``ROW_NUMBER() OVER ()`` numbers rows in arbitrary order —
    docs: "ORDER BY ... optional"); Spark hard-requires the clause
    ("Window function row_number() requires window to be ordered",
    12 reference statements, e.g. finance dedup marts). Append
    ``ORDER BY 1`` — a CONSTANT sort key in a window spec (window
    ORDER BY has no positional resolution), so the order stays
    engine-arbitrary, which is exactly the Redshift contract the
    statement was written against. Fires only on a parenthesized
    window spec directly after an order-requiring function call;
    named window refs (OVER w) pass through."""
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        if not (t.kind == "word" and t.text.upper() in
                _ORDER_REQUIRED_WINFNS):
            i += 1
            continue
        j = _next_sig(out, i)
        if not (j < len(out) and out[j].kind == "punct"
                and out[j].text == "("):
            i += 1
            continue
        # matching close of the call's argument list
        d = 0
        k = j
        while k < len(out):
            if out[k].kind == "punct" and out[k].text == "(":
                d += 1
            elif out[k].kind == "punct" and out[k].text == ")":
                d -= 1
                if d == 0:
                    break
            k += 1
        m = _next_sig(out, k)
        if not (m < len(out) and _word_is(out[m], "OVER")):
            i += 1
            continue
        w = _next_sig(out, m)
        if not (w < len(out) and out[w].kind == "punct"
                and out[w].text == "("):
            i += 1
            continue
        # scan the window spec at its own depth for ORDER BY
        d = 0
        has_order = False
        e = w
        while e < len(out):
            te = out[e]
            if te.kind == "punct" and te.text == "(":
                d += 1
            elif te.kind == "punct" and te.text == ")":
                d -= 1
                if d == 0:
                    break
            elif d == 1 and _word_is(te, "ORDER"):
                n = _next_sig(out, e)
                if n < len(out) and _word_is(out[n], "BY"):
                    has_order = True
            e += 1
        if e < len(out) and not has_order:
            ins = [Tok("word", "ORDER"), Tok("ws", " "),
                   Tok("word", "BY"), Tok("ws", " "), Tok("num", "1")]
            if e > w + 1:  # non-empty spec: space after PARTITION BY
                ins = [Tok("ws", " ")] + ins
            out[e:e] = ins
        i += 1
    return out


def _rw_no_schema_binding(toks: list[Tok]) -> list[Tok]:
    """Strip Redshift's late-binding-view clause ``WITH NO SCHEMA
    BINDING`` (trailing on CREATE [EXTERNAL] VIEW; reference uses it
    on every reporting view, e.g.
    marketing.v_affiliate_order_validation.sql). Spark views are
    always late-bound -- resolved at read -- so the clause is the
    default behavior, not a loss."""
    out = list(toks)
    i = 0
    while i < len(out):
        if _word_is(out[i], "WITH"):
            j = _next_sig(out, i)
            k = _next_sig(out, j) if j < len(out) else len(out)
            m = _next_sig(out, k) if k < len(out) else len(out)
            if (
                m < len(out)
                and _word_is(out[j], "NO")
                and _word_is(out[k], "SCHEMA")
                and _word_is(out[m], "BINDING")
            ):
                del out[i : m + 1]
                continue
        i += 1
    return out


def _rw_set_stmt(toks: list[Tok]) -> list[Tok]:
    """Statement-head ``SET param TO value`` (Redshift session GUC,
    e.g. ``SET enable_case_sensitive_identifier TO TRUE`` --
    01_track_events.sql) -> Spark ``SET param = value``. The key is
    not a Spark conf, so the statement is a recorded no-op -- exactly
    the session-scoped-knob semantics."""
    sigs = [k for k, t in enumerate(toks) if _is_sig(t)]
    if len(sigs) < 3 or not _word_is(toks[sigs[0]], "SET"):
        return toks
    if toks[sigs[1]].kind != "word":
        return toks
    if _word_is(toks[sigs[2]], "TO"):
        out = list(toks)
        out[sigs[2]] = Tok("punct", "=")
        return out
    return toks


def _rw_refresh_mv(toks: list[Tok]) -> list[Tok]:
    """``REFRESH MATERIALIZED VIEW x`` -> ``REFRESH TABLE x``. In
    this engine materialized views are parquet tables maintained by
    plans/matview.py (refresh() recomputes; REFRESH TABLE is the
    read-side cache invalidation a consumer session runs)."""
    sigs = [k for k, t in enumerate(toks) if _is_sig(t)]
    if (
        len(sigs) >= 3
        and _word_is(toks[sigs[0]], "REFRESH")
        and _word_is(toks[sigs[1]], "MATERIALIZED")
        and _word_is(toks[sigs[2]], "VIEW")
    ):
        out = list(toks)
        out[sigs[1] : sigs[2] + 1] = [Tok("word", "TABLE")]
        return out
    return toks


def _rw_create_like(toks: list[Tok]) -> list[Tok]:
    """Redshift clone DDL (18 sites, all delta-load staging --
    mediamarkt_price_data.sql et al.):

    * ``CREATE TEMP TABLE x (LIKE y)`` -> ``CREATE OR REPLACE
      TEMPORARY VIEW x AS SELECT * FROM y WHERE 1 = 0`` -- an empty
      clone with y's exact schema. (A later INSERT INTO the temp
      stage fails loudly at analysis; the engine's staging path is
      sources/writers.py.)
    * permanent ``CREATE TABLE x (LIKE y)`` -> Spark-native
      ``CREATE TABLE x LIKE y``.
    """
    sigs = [k for k, t in enumerate(toks) if _is_sig(t)]
    if not sigs or not _word_is(toks[sigs[0]], "CREATE"):
        return toks
    # locate "( LIKE <name...> )" at top level
    depths = _depths(toks)
    li = next(
        (
            k
            for k in sigs
            if depths[k] == 1 and _word_is(toks[k], "LIKE")
        ),
        None,
    )
    if li is None:
        return toks
    op = _prev_sig(toks, li)
    if op < 0 or toks[op].kind != "punct" or toks[op].text != "(":
        return toks
    if depths[op] != 0:
        return toks
    _args, close = _call_args(toks, op)
    src = _render(toks[li + 1 : close]).strip()
    if not src:
        raise TranspileError("CREATE ... (LIKE) without a source")
    is_temp = any(
        _word_is(toks[k], "TEMP", "TEMPORARY") for k in sigs[1:4]
    )
    # table name = tokens between TABLE keyword and the '('
    ti = next((k for k in sigs if _word_is(toks[k], "TABLE")), None)
    if ti is None:
        return toks
    name = _render(toks[ti + 1 : op]).strip()
    if is_temp:
        name = name.split(".")[-1]  # temp views are single-part
        return tokenize(
            f"CREATE OR REPLACE TEMPORARY VIEW {name} AS "
            f"SELECT * FROM {src} WHERE 1 = 0"
        )
    return tokenize(f"CREATE TABLE {name} LIKE {src}")


_FROM_JOINERS = ("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
                 "NATURAL")


def _rw_update_from(toks: list[Tok]) -> list[Tok]:
    """Redshift/Postgres ``UPDATE t SET a = s.x FROM s WHERE cond``
    -> Spark ``MERGE INTO t USING s ON cond WHEN MATCHED THEN UPDATE
    SET a = s.x`` (93 sites, e.g. 00_inventory_reservations.sql's
    staging merge-back).

    When the FROM clause is itself a join (the anonymize_gdpr
    self-join shape), the source becomes ``(SELECT * FROM <from>)``
    aliased with the first relation's alias so ``t.col`` references
    keep resolving. A missing WHERE becomes ``ON true`` -- Postgres'
    cross-join update; Spark's multiple-match MERGE error is the loud
    version of Postgres' arbitrary-row pick."""
    sigs = [k for k, t in enumerate(toks) if _is_sig(t)]
    if not sigs or not _word_is(toks[sigs[0]], "UPDATE"):
        return toks
    depths = _depths(toks)

    def top(word: str, after: int = 0) -> int | None:
        return next(
            (
                k
                for k in sigs
                if k >= after and depths[k] == 0 and _word_is(toks[k], word)
            ),
            None,
        )

    set_i = top("SET")
    if set_i is None:
        return toks
    from_i = top("FROM", set_i)
    if from_i is None:
        return toks  # plain UPDATE: Spark parses it natively
    where_i = top("WHERE", from_i)
    target = _render(toks[sigs[1] : set_i]).strip()
    assigns = _render(toks[set_i + 1 : from_i]).strip()
    src_end = where_i if where_i is not None else len(toks)
    source = _render(toks[from_i + 1 : src_end]).strip()
    cond = (
        _render(toks[where_i + 1 :]).strip()
        if where_i is not None
        else "true"
    )
    if not assigns or not source:
        raise TranspileError("UPDATE ... FROM missing SET or source")
    src_toks = [t for t in tokenize(source) if _is_sig(t)]
    has_join = any(
        _word_is(t, *_FROM_JOINERS) or (t.kind == "punct" and t.text == ",")
        for t in src_toks
    )
    if has_join:
        # alias of the first relation: name [AS] alias
        alias = "__merge_src__"
        if len(src_toks) >= 2 and src_toks[1].kind == "word":
            cand = src_toks[1].text
            if cand.upper() == "AS" and len(src_toks) >= 3:
                cand = src_toks[2].text
            if cand.upper() not in _FROM_JOINERS:
                alias = cand
        source = f"(SELECT * FROM {source}) {alias}"
    return tokenize(
        f"MERGE INTO {target} USING {source} ON {cond} "
        f"WHEN MATCHED THEN UPDATE SET {assigns}"
    )


def _rw_delete_using(toks: list[Tok]) -> list[Tok]:
    """Redshift ``DELETE FROM t USING s WHERE cond`` -> Spark
    ``MERGE INTO t USING s ON cond WHEN MATCHED THEN DELETE``
    (same delete-matching-rows semantics; the engine's W2/W3 path --
    sources/writers.py -- executes this shape over parquet).

    A leading CTE block (``WITH dedup AS (...) DELETE FROM t USING
    dedup WHERE ...`` -- intercom_deleted_conversations.sql) folds
    into the MERGE's USING subquery: Spark's MERGE takes no WITH
    prefix, but ``USING (WITH ... SELECT * FROM cte) alias`` is the
    same relation."""
    sigs = [k for k, t in enumerate(toks) if _is_sig(t)]
    cte_prefix = ""
    if sigs and _word_is(toks[sigs[0]], "WITH"):
        depths0 = _depths(toks)
        di = next(
            (
                k
                for k in sigs
                if depths0[k] == 0 and _word_is(toks[k], "DELETE")
            ),
            None,
        )
        if di is None:
            return toks
        cte_prefix = _render(toks[:di]).strip()
        toks = toks[di:]
        sigs = [k for k, t in enumerate(toks) if _is_sig(t)]
    if not sigs or not _word_is(toks[sigs[0]], "DELETE"):
        return toks
    if len(sigs) < 2 or not _word_is(toks[sigs[1]], "FROM"):
        return toks
    depths = _depths(toks)
    using_i = next(
        (
            k
            for k in sigs
            if depths[k] == 0 and _word_is(toks[k], "USING")
        ),
        None,
    )
    if using_i is None:
        return toks
    where_i = next(
        (
            k
            for k in sigs
            if k > using_i and depths[k] == 0 and _word_is(toks[k], "WHERE")
        ),
        None,
    )
    if where_i is None:
        raise TranspileError("DELETE ... USING without WHERE")
    target = _render(toks[sigs[2] : using_i]).strip()
    source = _render(toks[using_i + 1 : where_i]).strip()
    cond = _render(toks[where_i + 1 :]).strip()
    if cte_prefix:
        parts = source.split()
        name, alias = parts[0], parts[-1]
        source = f"({cte_prefix} SELECT * FROM {name}) {alias}"
    return tokenize(
        f"MERGE INTO {target} USING {source} ON {cond} "
        "WHEN MATCHED THEN DELETE"
    )


_DT_FMT_HINT = re.compile(
    r"YYYY|MM|DD|HH|MI|SS|MON|DAY|DY|AM|PM", re.IGNORECASE
)


def _rw_to_char(toks: list[Tok]) -> list[Tok]:
    """TO_CHAR(expr, 'datetime-fmt') -> date_format(expr, java-fmt);
    the Redshift 'd' day-of-week digit becomes a concat() with
    dayofweek(). Numeric TO_CHAR (no datetime codes) passes through
    to Spark's native numeric to_char."""
    i = 0
    out = list(toks)
    while i < len(out):
        if _word_is(out[i], "TO_CHAR"):
            j = _next_sig(out, i)
            if j < len(out) and out[j].kind == "punct" and out[j].text == "(":
                args, close = _call_args(out, j)
                if len(args) == 2:
                    fsig = _arg_sig(out, args[1])
                    if len(fsig) == 1 and out[fsig[0]].kind == "str":
                        fmt = _str_value(out[fsig[0]])
                        if _DT_FMT_HINT.search(fmt):
                            java, needs_dow = _translate_to_char_format(fmt)
                            expr = _render([out[k] for k in args[0]])
                            if not needs_dow:
                                new = (
                                    f"date_format({expr}, "
                                    f"{_str_lit(java).text})"
                                )
                            else:
                                parts = java.split("\x00")
                                pieces: list[str] = []
                                for pi, p in enumerate(parts):
                                    if p:
                                        pieces.append(
                                            f"date_format({expr}, "
                                            f"{_str_lit(p).text})"
                                        )
                                    if pi < len(parts) - 1:
                                        pieces.append(
                                            "cast(dayofweek("
                                            f"{expr}) as string)"
                                        )
                                new = (
                                    "concat(" + ", ".join(pieces) + ")"
                                    if len(pieces) > 1
                                    else pieces[0]
                                )
                            out[i : close + 1] = tokenize(new)
        i += 1
    return out


def _rw_to_date(toks: list[Tok]) -> list[Tok]:
    """TO_DATE/TO_TIMESTAMP(s, 'YYYY-MM-DD') -> Java parse codes."""
    out = list(toks)
    for i, t in enumerate(out):
        if _word_is(t, "TO_DATE", "TO_TIMESTAMP"):
            j = _next_sig(out, i)
            if j < len(out) and out[j].kind == "punct" and out[j].text == "(":
                args, _close = _call_args(out, j)
                if len(args) == 2:
                    fsig = _arg_sig(out, args[1])
                    if len(fsig) == 1 and out[fsig[0]].kind == "str":
                        fmt = _str_value(out[fsig[0]])
                        if _DT_FMT_HINT.search(fmt):
                            java, needs_dow = _translate_to_char_format(fmt)
                            if needs_dow:
                                raise TranspileError(
                                    "'d' code is not parseable in "
                                    "TO_DATE"
                                )
                            out[fsig[0]] = _str_lit(java)
    return out


def _json_path(keys: list[str]) -> str:
    # space-bearing keys MUST take the bracket branch: Spark's
    # get_json_object cannot parse `$.a b` and returns NULL for every
    # row — a silent divergence instead of the module's loud-stop
    # contract (r6 advice)
    parts = []
    for k in keys:
        if re.fullmatch(r"[A-Za-z0-9_]+", k) and not k.isdigit():
            parts.append("." + k)
        else:
            parts.append("['" + k.replace("'", "\\'") + "']")
    return "$" + "".join(parts)


def _rw_json(toks: list[Tok]) -> list[Tok]:
    """JSON_EXTRACT_PATH_TEXT(j, 'a', 'b') -> get_json_object(j,
    '$.a.b'); JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, i) ->
    get_json_object(j, '$[i]'). NULL-on-missing/invalid matches the
    functions-layer semantics (functions/__init__.py
    json_extract_path_text)."""
    i = 0
    out = list(toks)
    while i < len(out):
        if _word_is(out[i], "JSON_EXTRACT_PATH_TEXT"):
            j = _next_sig(out, i)
            if j < len(out) and out[j].kind == "punct" and out[j].text == "(":
                args, close = _call_args(out, j)
                if len(args) < 2:
                    raise TranspileError(
                        "JSON_EXTRACT_PATH_TEXT needs >= 2 args"
                    )
                path_args = args[1:]
                # Redshift's optional trailing null_if_invalid flag:
                # our NULL-on-invalid semantics already match `true`.
                last_sig = _arg_sig(out, path_args[-1])
                if len(last_sig) == 1 and _word_is(
                    out[last_sig[0]], "TRUE", "FALSE"
                ):
                    path_args = path_args[:-1]
                if not path_args:
                    raise TranspileError(
                        "JSON_EXTRACT_PATH_TEXT needs a path"
                    )
                expr = _render([out[k] for k in args[0]])
                lits: list[str] | None = []
                for a in path_args:
                    sig = _arg_sig(out, a)
                    if len(sig) == 1 and out[sig[0]].kind == "str":
                        lits.append(_str_value(out[sig[0]]))
                    else:
                        lits = None
                        break
                if lits is not None:
                    new = (
                        f"get_json_object({expr}, "
                        f"{_str_lit(_json_path(lits)).text})"
                    )
                else:
                    # dynamic keys: build the path at runtime
                    # (get_json_object accepts non-foldable paths)
                    parts = ["'$'"]
                    for a in path_args:
                        k_expr = _render([out[k] for k in a])
                        parts.append(
                            "concat('.', cast((" + k_expr
                            + ") as string))"
                        )
                    new = (
                        f"get_json_object({expr}, "
                        f"concat({', '.join(parts)}))"
                    )
                out[i : close + 1] = tokenize(new)
        elif _word_is(out[i], "JSON_EXTRACT_ARRAY_ELEMENT_TEXT"):
            j = _next_sig(out, i)
            if j < len(out) and out[j].kind == "punct" and out[j].text == "(":
                args, close = _call_args(out, j)
                if len(args) == 3:
                    sig3 = _arg_sig(out, args[2])
                    if len(sig3) == 1 and _word_is(
                        out[sig3[0]], "TRUE", "FALSE"
                    ):
                        args = args[:2]  # null_if_invalid flag
                if len(args) != 2:
                    raise TranspileError(
                        "JSON_EXTRACT_ARRAY_ELEMENT_TEXT needs "
                        "(json, index)"
                    )
                expr = _render([out[k] for k in args[0]])
                sig = _arg_sig(out, args[1])
                if len(sig) == 1 and out[sig[0]].kind == "num":
                    new = (
                        f"get_json_object({expr}, "
                        f"'$[{out[sig[0]].text}]')"
                    )
                else:
                    idx_expr = _render([out[k] for k in args[1]])
                    new = (
                        f"get_json_object({expr}, concat('$[', "
                        f"cast(({idx_expr}) as string), ']'))"
                    )
                out[i : close + 1] = tokenize(new)
        i += 1
    return out


_QUALIFY_ENDERS = ("ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT",
                   "EXCEPT", "MINUS")


def _rw_qualify(toks: list[Tok]) -> list[Tok]:
    """QUALIFY pred -> ``SELECT * EXCEPT (__qualify__) FROM (select
    + pred AS __qualify__) WHERE __qualify__``.

    Spark resolves lateral column aliases inside the injected
    predicate (probed: a select-list alias of a window function is
    referable later in the same list), so predicates over SELECT
    aliases and over raw window functions both work."""
    while True:
        out = list(toks)
        depths = _depths(out)
        qi = next(
            (k for k, t in enumerate(out) if _word_is(t, "QUALIFY")),
            None,
        )
        if qi is None:
            return out
        d = depths[qi]
        sel = max(
            (
                k
                for k in range(qi)
                if depths[k] == d and _word_is(out[k], "SELECT")
            ),
            default=None,
        )
        if sel is None:
            raise TranspileError("QUALIFY without a SELECT")
        # Snowflake/Redshift evaluation order puts QUALIFY *before*
        # DISTINCT, so a SELECT DISTINCT moves to the outer query:
        # filter on the predicate first, then de-duplicate the
        # original select list.
        distinct = ""
        ns = _next_sig(out, sel)
        if ns < len(out) and _word_is(out[ns], "DISTINCT"):
            distinct = "DISTINCT "
            out[ns] = Tok("ws", " ")
        fi = next(
            (
                k
                for k in range(sel + 1, qi)
                if depths[k] == d and _word_is(out[k], "FROM")
            ),
            None,
        )
        if fi is None:
            raise TranspileError("QUALIFY without a FROM")
        end = len(out)
        for k in range(qi + 1, len(out)):
            if depths[k] < d or (
                out[k].kind == "punct"
                and out[k].text == ")"
                and depths[k] <= d
            ):
                end = k
                break
            if depths[k] == d and (
                _word_is(out[k], *_QUALIFY_ENDERS)
                or (out[k].kind == "punct" and out[k].text == ";")
            ):
                end = k
                break
        # strip comment tokens from the relocated predicate: it is
        # re-rendered INLINE before ") AS __qualify__", so a trailing
        # `-- line comment` would comment out the appended close
        # paren and silently truncate the expression (lost_report
        # QUALIFY ... >= 1 -- Assets Lost AT LEAST once)
        pred = _render(
            [t for t in out[qi + 1 : end] if t.kind != "comment"]
        ).strip()
        if not pred:
            raise TranspileError("empty QUALIFY predicate")
        select_list = out[sel:fi]
        body = out[fi:qi]
        inner = (
            _render(select_list)
            + f", ({pred}) AS __qualify__ "
            + _render(body)
        )
        replacement = (
            f"SELECT {distinct}* EXCEPT (__qualify__) FROM ("
            + inner
            + ") __qualify_sq WHERE __qualify__ "
        )
        toks = out[:sel] + tokenize(replacement) + out[end:]


def _rw_ddl(toks: list[Tok]) -> list[Tok]:
    """Strip Redshift physical-layout DDL (DISTSTYLE/DISTKEY/SORTKEY/
    ENCODE/BACKUP) -- partitioning is the engine's job in Spark --
    and map CREATE TEMP TABLE -> CREATE OR REPLACE TEMPORARY VIEW
    (read-only temp stage; the reference INSERTs only into permanent
    tables)."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if _word_is(t, "DISTSTYLE"):
            i = _next_sig(toks, i) + 1
            continue
        if _word_is(t, "DISTKEY", "SORTKEY"):
            j = _next_sig(toks, i)
            if (
                j < len(toks)
                and toks[j].kind == "punct"
                and toks[j].text == "("
            ):
                _args, close = _call_args(toks, j)
                i = close + 1
            else:
                i += 1
            continue
        if _word_is(t, "COMPOUND", "INTERLEAVED"):
            j = _next_sig(toks, i)
            if j < len(toks) and _word_is(toks[j], "SORTKEY"):
                i += 1
                continue
        if _word_is(t, "ENCODE"):
            i = _next_sig(toks, i) + 1
            continue
        if _word_is(t, "BACKUP"):
            j = _next_sig(toks, i)
            if j < len(toks) and _word_is(toks[j], "YES", "NO"):
                i = j + 1
                continue
        if _word_is(t, "CREATE"):
            j = _next_sig(toks, i)
            if j < len(toks) and _word_is(toks[j], "TEMP", "TEMPORARY"):
                k = _next_sig(toks, j)
                if k < len(toks) and _word_is(toks[k], "TABLE"):
                    depths0 = _depths(toks)
                    has_as = any(
                        depths0[m] == 0
                        and _is_sig(toks[m])
                        and _word_is(toks[m], "AS")
                        for m in range(k + 1, len(toks))
                    )
                    if not has_as:
                        # no top-level AS = a typed column-definition
                        # temp table (Customer Data Tape.sql) — a
                        # VIEW cannot carry a bare column list, so
                        # it stays a real table
                        out.append(Tok("word", "CREATE"))
                        out.append(Tok("ws", " "))
                        out.append(Tok("word", "TABLE"))
                        i = k + 1
                        continue
                    out.append(Tok("word", "CREATE"))
                    out.append(Tok("ws", " "))
                    out.append(Tok("word", "OR"))
                    out.append(Tok("ws", " "))
                    out.append(Tok("word", "REPLACE"))
                    out.append(Tok("ws", " "))
                    out.append(Tok("word", "TEMPORARY"))
                    out.append(Tok("ws", " "))
                    out.append(Tok("word", "VIEW"))
                    i = k + 1
                    # drop IF NOT EXISTS (incompatible with OR REPLACE)
                    p = _next_sig(toks, k)
                    if p < len(toks) and _word_is(toks[p], "IF"):
                        q = _next_sig(toks, p)
                        r = _next_sig(toks, q)
                        if (
                            r < len(toks)
                            and _word_is(toks[q], "NOT")
                            and _word_is(toks[r], "EXISTS")
                        ):
                            i = r + 1
                    continue
        out.append(t)
        i += 1
    return out


def _rw_truncate(toks: list[Tok]) -> list[Tok]:
    """Redshift allows ``TRUNCATE name``; Spark requires
    ``TRUNCATE TABLE name`` (saturn_price_data.sql)."""
    sigs = [k for k, t in enumerate(toks) if _is_sig(t)]
    if (
        len(sigs) >= 2
        and _word_is(toks[sigs[0]], "TRUNCATE")
        and not _word_is(toks[sigs[1]], "TABLE")
    ):
        out = list(toks)
        out[sigs[0] + 1 : sigs[0] + 1] = [
            Tok("ws", " "), Tok("word", "TABLE"),
        ]
        return out
    return toks


def _rw_identity(toks: list[Tok]) -> list[Tok]:
    """Strip a column-DDL ``IDENTITY(seed, step)`` clause
    (supermetrics_extracts_config.sql) -- Spark has no serial
    columns; the engine's surrogate-key path is
    monotonically_increasing_id/row_number at write time."""
    out = list(toks)
    i = 0
    while i < len(out):
        if _word_is(out[i], "IDENTITY"):
            j = _next_sig(out, i)
            if (
                j < len(out)
                and out[j].kind == "punct"
                and out[j].text == "("
            ):
                _args, close = _call_args(out, j)
                del out[i : close + 1]
                continue
        i += 1
    return out


def _operand_start(toks: list[Tok], end: int) -> int:
    """Index where the primary expression ending at ``end``
    (inclusive) starts: a literal/identifier, a call ``f(...)``, a
    parenthesized expr, with any dotted qualifiers and ``::type``
    suffix chains."""
    start = end
    t = toks[end]
    if t.kind == "punct" and t.text == ")":
        start = _matching_open(toks, end)
        p = _prev_sig(toks, start)
        if p >= 0 and toks[p].kind == "word":
            start = p
    elif t.kind == "str":
        # typed literal: TIMESTAMP '...' / DATE '...'
        p = _prev_sig(toks, end)
        if p >= 0 and _word_is(toks[p], "TIMESTAMP", "DATE", "TIME"):
            start = p
    elif t.kind not in ("word", "qid", "num"):
        raise TranspileError("AT TIME ZONE on a non-primary operand")
    # dotted qualifier chain: a.b.c
    while True:
        p = _prev_sig(toks, start)
        if p >= 0 and toks[p].kind == "punct" and toks[p].text == ".":
            q = _prev_sig(toks, p)
            if q >= 0 and toks[q].kind in ("word", "qid"):
                start = q
                continue
        break
    return start


def _rw_deferred_on(toks: list[Tok]) -> list[Tok]:
    """SQL-standard nested-join deferred ON — ``A JOIN B JOIN C ON bc
    ON ab``, valid in Redshift/Postgres/DuckDB (each ON binds the
    nearest unbound JOIN, inside-out), rejected by Spark's join
    grammar (probed: PARSE_SYNTAX_ERROR at the second ON). The one
    corpus residual the r7 adjudicator classed a REAL dialect gap
    (dm_b2b.v_business_customers_kpis_tableau.sql:41). Rewrite to the
    explicit-parens equivalent ``A JOIN (B JOIN C ON bc) ON ab``:
    when an ON follows another ON's condition with no JOIN between
    (same paren depth), '(' lands at the right-operand start of the
    join this ON binds and ')' immediately before the ON."""
    while True:
        out = toks
        depth = 0
        stack: dict[int, list[int]] = {}
        join_since_on: dict[int, bool] = {}
        fix = None
        i = 0
        while i < len(out):
            t = out[i]
            if t.kind == "punct" and t.text == "(":
                depth += 1
            elif t.kind == "punct" and t.text == ")":
                stack.pop(depth, None)
                join_since_on.pop(depth, None)
                depth -= 1
            elif t.kind == "word":
                w = t.text.upper()
                if w == "JOIN":
                    p = _prev_sig(out, i)
                    if p < 0 or not _word_is(out[p], "CROSS", "NATURAL"):
                        stack.setdefault(depth, []).append(
                            _next_sig(out, i)
                        )
                    join_since_on[depth] = True
                elif w == "ON" and stack.get(depth):
                    if not join_since_on.get(depth, True):
                        fix = (stack[depth].pop(), i)
                        break
                    stack[depth].pop()
                    join_since_on[depth] = False
            i += 1
        if fix is None:
            return toks
        rs, on_i = fix
        toks = (
            out[:rs]
            + [Tok("punct", "(")]
            + out[rs:on_i]
            + [Tok("punct", ")"), Tok("ws", " ")]
            + out[on_i:]
        )


_MYSQL_FMT = (
    ("%%", "\x00"), ("%Y", "yyyy"), ("%y", "yy"), ("%M", "MMMM"),
    ("%m", "MM"), ("%c", "M"), ("%d", "dd"), ("%e", "d"),
    ("%H", "HH"), ("%h", "hh"), ("%I", "hh"), ("%i", "mm"),
    ("%s", "ss"), ("%S", "ss"), ("%f", "SSSSSS"),
    ("%T", "HH:mm:ss"), ("%r", "hh:mm:ss a"), ("%p", "a"),
    ("%W", "EEEE"), ("%a", "EEE"), ("%b", "MMM"), ("%j", "DDD"),
    ("\x00", "%"),
)

_TRINO_SCALARS = {
    "varchar": "string", "char": "string", "text": "string",
    "json": "string", "integer": "int", "int": "int",
    "bigint": "bigint", "smallint": "smallint", "tinyint": "tinyint",
    "double": "double", "real": "float", "boolean": "boolean",
    "timestamp": "timestamp", "date": "date",
}


def _render_trino_type(toks: list[Tok], lo: int, hi: int) -> str | None:
    """Render a Trino complex-type token span (``ARRAY(MAP(VARCHAR,
    JSON))``) as a Spark type string. A MAP whose VALUE type is JSON
    collapses to ``string``: Trino keeps each object's fields as raw
    JSON there, and the Spark equivalent keeps the whole element as
    the raw JSON string (``from_json(e, 'array<string>')`` preserves
    object substrings verbatim), which downstream
    ``json_extract_scalar`` -> ``get_json_object`` consumes directly.
    Returns None (leave untouched, loud parse error stays) on any
    word it does not know."""
    sig = [k for k in range(lo, hi + 1) if _is_sig(toks[k])]
    pos = 0

    def _peek() -> Tok | None:
        return toks[sig[pos]] if pos < len(sig) else None

    def _eat_punct(ch: str) -> bool:
        nonlocal pos
        t = _peek()
        if t is not None and t.kind == "punct" and t.text == ch:
            pos += 1
            return True
        return False

    def parse() -> str | None:
        nonlocal pos
        t = _peek()
        if t is None or t.kind != "word":
            return None
        w = t.text.lower()
        pos += 1
        if w == "array":
            if not _eat_punct("("):
                return None
            inner = parse()
            if inner is None or not _eat_punct(")"):
                return None
            return f"array<{inner}>"
        if w == "map":
            if not _eat_punct("("):
                return None
            vt = _peek()
            val_is_json = False
            k = parse()
            if k is None or not _eat_punct(","):
                return None
            vt = _peek()
            val_is_json = (
                vt is not None and vt.kind == "word"
                and vt.text.lower() == "json"
            )
            v = parse()
            if v is None or not _eat_punct(")"):
                return None
            return "string" if val_is_json else f"map<{k},{v}>"
        if w in ("varchar", "char", "decimal", "numeric"):
            base = _TRINO_SCALARS.get(w, w)
            if _eat_punct("("):
                args = []
                t2 = _peek()
                while t2 is not None and not (
                    t2.kind == "punct" and t2.text == ")"
                ):
                    if t2.kind == "num":
                        args.append(t2.text)
                    pos += 1
                    t2 = _peek()
                if not _eat_punct(")"):
                    return None
                if w in ("decimal", "numeric"):
                    return f"decimal({','.join(args)})"
            return base
        return _TRINO_SCALARS.get(w)

    out = parse()
    return out if pos == len(sig) else None


def _rw_trino(toks: list[Tok]) -> list[Tok]:
    """Trino/Athena-dialect constructs (the corpus's bi-airflow
    Athena feeds, e.g. order_item_historical.sql — the one residual
    the r7 adjudicator classed dialect-gap):

    - ``json_parse(e)``            -> ``(e)`` (strings stay strings)
    - ``json_extract_scalar(j,p)`` / ``json_extract(j,p)``
                                   -> ``get_json_object(j, p)``
    - ``CAST(e AS ARRAY(..)/MAP(..))`` (Trino paren type grammar)
                                   -> ``from_json(e, '<spark type>')``
      (a Spark CAST cannot parse a JSON string into a complex type)
    - ``, UNNEST(e) AS t(c)``      -> ``, LATERAL explode(e) AS t(c)``
      (parse- AND analyze-equivalent, probed on Spark 4)
    - MySQL-style ``date_format`` codes (%Y-%m-%d %H:%i:%s) -> JDK
      patterns, only when the literal carries '%'.
    """
    # 1) token renames / deletions (no structural change)
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        if t.kind == "word":
            lw = t.text.lower()
            j = _next_sig(out, i)
            has_call = (
                j < len(out)
                and out[j].kind == "punct"
                and out[j].text == "("
            )
            if lw in ("json_extract_scalar", "json_extract") and has_call:
                out[i] = Tok("word", "get_json_object")
            elif lw in ("json_parse", "parse_json") and has_call:
                # _rw_words maps json_parse -> parse_json (Spark's
                # VARIANT parser); for the Athena string-JSON idiom
                # the raw string IS what get_json_object consumes
                del out[i]
                continue
            elif lw == "unnest" and has_call:
                p = _prev_sig(out, i)
                if p >= 0 and out[p].kind == "punct" and out[p].text == ",":
                    out[i : i + 1] = [
                        Tok("word", "lateral"), Tok("ws", " "),
                        Tok("word", "explode"),
                    ]
                    i += 2
                elif p >= 0 and _word_is(out[p], "JOIN"):
                    q = _prev_sig(out, p)
                    if q >= 0 and _word_is(out[q], "CROSS"):
                        # CROSS JOIN UNNEST(e) AS t(c) (the intercom
                        # Athena export) -> , LATERAL explode(e) AS t(c)
                        out[q : i + 1] = [
                            Tok("punct", ","), Tok("ws", " "),
                            Tok("word", "lateral"), Tok("ws", " "),
                            Tok("word", "explode"),
                        ]
                        i = q + 4
                    else:
                        # LEFT/INNER/bare JOIN UNNEST(e) AS t(c) ON
                        # TRUE (the standard Trino left-unnest idiom,
                        # ADVICE r9) -> same join against LATERAL
                        # explode — Spark's lateral TVF join accepts
                        # LEFT/INNER/bare JOIN ... ON TRUE directly
                        # with matching outer/inner semantics
                        # (probed: empty/null arrays keep the row
                        # with NULL under LEFT, drop it under INNER),
                        # so the join keyword, alias, and ON clause
                        # pass through untouched.
                        out[i : i + 1] = [
                            Tok("word", "lateral"), Tok("ws", " "),
                            Tok("word", "explode"),
                        ]
                        i += 2
            elif lw == "date_format" and has_call:
                args, _close = _call_args(out, j)
                if len(args) == 2:
                    for k in args[1]:
                        if out[k].kind == "str" and "%" in out[k].text:
                            v = _str_value(out[k])
                            for a, b in _MYSQL_FMT:
                                v = v.replace(a, b)
                            out[k] = _str_lit(v)
        i += 1
    toks = out
    # 2) CAST(e AS ARRAY(...)/MAP(...)) -> from_json(e, '<type>')
    while True:
        out = list(toks)
        hit = None
        for i, t in enumerate(out):
            if t.kind != "word" or t.text.lower() not in ("array", "map"):
                continue
            j = _next_sig(out, i)
            if not (
                j < len(out) and out[j].kind == "punct" and out[j].text == "("
            ):
                continue
            p = _prev_sig(out, i)
            if p < 0 or not _word_is(out[p], "AS"):
                continue
            # the enclosing call must be CAST/TRY_CAST: find the type
            # span's close, expect the cast's ')' right after
            depth = 0
            close = -1
            for k in range(j, len(out)):
                if out[k].kind == "punct" and out[k].text == "(":
                    depth += 1
                elif out[k].kind == "punct" and out[k].text == ")":
                    depth -= 1
                    if depth == 0:
                        close = k
                        break
            if close < 0:
                continue
            q = _next_sig(out, close)
            if not (
                q < len(out) and out[q].kind == "punct" and out[q].text == ")"
            ):
                continue
            o = _matching_open(out, q)
            c = _prev_sig(out, o) if o > 0 else -1
            if c < 0 or not _word_is(out[c], "CAST", "TRY_CAST"):
                continue
            tstr = _render_trino_type(out, i, close)
            if tstr is None:
                continue
            hit = (c, o, p, i, close, q, tstr)
            break
        if hit is None:
            return toks
        c, o, p, i, close, q, tstr = hit
        expr = _render(out[o + 1 : p]).strip()
        if "<" in tstr:
            repl = f"from_json({expr}, '{tstr}')"
        else:
            # A JSON-valued MAP collapses to plain 'string' at the
            # TOP level too (CAST(x AS MAP(VARCHAR, JSON))), and
            # from_json rejects scalar schemas — emit a plain cast
            # instead (ADVICE r9).
            repl = f"cast({expr} AS {tstr})"
        toks = out[:c] + tokenize(repl) + out[q + 1 :]


# Redshift accepts DST-abbreviation zone names as FIXED offsets
# (docs: "time zone abbreviations represent a fixed offset from
# UTC"); Spark's zone parser rejects them (INVALID_TIMEZONE). Map to
# the literal offset Redshift uses — NOT to a region zone, whose
# offset would float with DST.
_TZ_ABBREV_OFFSETS = {
    "CEST": "+02:00", "MEST": "+02:00", "MESZ": "+02:00",
    "EEST": "+03:00", "BST": "+01:00", "WEST": "+01:00",
    "EDT": "-04:00", "CDT": "-05:00", "MDT": "-06:00",
    "PDT": "-07:00", "AEST": "+10:00",
}


def _norm_zone_lit(zone: str) -> str:
    inner = zone[1:-1].strip().upper()
    off = _TZ_ABBREV_OFFSETS.get(inner)
    return f"'{off}'" if off else zone


def _rw_at_time_zone(toks: list[Tok]) -> list[Tok]:
    """``expr AT TIME ZONE 'tz'`` -> ``from_utc_timestamp(expr,
    'tz')`` -- Redshift interprets a naive timestamp as UTC and
    renders it in the target zone (mediamarkt_price_data.sql:
    ``current_timestamp AT TIME ZONE 'CEST'``). DST abbreviations
    Spark rejects normalize to their fixed offsets."""
    while True:
        out = list(toks)
        hit = None
        for i, t in enumerate(out):
            if _word_is(t, "AT"):
                j = _next_sig(out, i)
                k = _next_sig(out, j) if j < len(out) else len(out)
                m = _next_sig(out, k) if k < len(out) else len(out)
                if (
                    m < len(out)
                    and _word_is(out[j], "TIME")
                    and _word_is(out[k], "ZONE")
                ):
                    hit = (i, m)
                    break
        if hit is None:
            return toks
        i, m = hit
        if out[m].kind != "str":
            raise TranspileError("AT TIME ZONE requires a literal zone")
        p = _prev_sig(out, i)
        if p < 0:
            raise TranspileError("AT TIME ZONE without an operand")
        start = _operand_start(out, p)
        expr = _render(out[start : p + 1]).strip()
        zone = _norm_zone_lit(out[m].text)
        toks = (
            out[:start]
            + tokenize(f"from_utc_timestamp({expr}, {zone})")
            + out[m + 1 :]
        )


def _rw_array_agg_order(toks: list[Tok]) -> list[Tok]:
    """Postgres/Redshift ``array_agg(expr ORDER BY k1, k2, ...)``
    (braze_price_drop_agg.sql) -> the Spark idiom
    ``transform(array_sort(array_agg(named_struct('o0',k1,...,'v',
    expr))), __x -> __x.v)``: sort keys ride a struct whose
    left-to-right field comparison IS the ORDER BY, then the payload
    is projected back out. ASC only — a DESC key raises (negating
    arbitrary expressions is not faithfully mechanical); NULL sort
    keys order first (Spark struct comparison) vs Redshift's NULLS
    LAST — divergence documented, keys in the corpus are non-null."""
    out = list(toks)
    i = 0
    while i < len(out):
        if _word_is(out[i], "ARRAY_AGG"):
            j = _next_sig(out, i)
            if (
                j < len(out)
                and out[j].kind == "punct"
                and out[j].text == "("
            ):
                _args, close = _call_args(out, j)
                # find ORDER BY at call depth 1 — the ORDER-BY key
                # list's own commas split _call_args' arg slices, so
                # scan the raw token span instead
                depth = 0
                ob = None
                for k in range(j, close):
                    t2 = out[k]
                    if t2.kind == "punct" and t2.text == "(":
                        depth += 1
                    elif t2.kind == "punct" and t2.text == ")":
                        depth -= 1
                    elif (
                        depth == 1
                        and _word_is(t2, "ORDER")
                        and _next_sig(out, k) < close
                        and _word_is(out[_next_sig(out, k)], "BY")
                    ):
                        ob = k
                        break
                if ob is not None:
                    by = _next_sig(out, ob)
                    expr = _render(out[j + 1 : ob]).strip()
                    tail = out[by + 1 : close]
                    if any(_word_is(t, "DESC") for t in tail):
                        raise TranspileError(
                            "array_agg(... ORDER BY ... DESC) "
                            "has no mechanical Spark rewrite"
                        )
                    # split the key list at paren-depth-0 commas over
                    # the TOKEN span — a rendered-string split would
                    # cut inside calls like coalesce(a, b) and emit
                    # malformed named_struct SQL that only fails later
                    # at Spark parse time.
                    key_groups: list[list[Tok]] = [[]]
                    kd = 0
                    for t2 in tail:
                        if t2.kind == "comment":
                            continue
                        if t2.kind == "punct" and t2.text == "(":
                            kd += 1
                        elif t2.kind == "punct" and t2.text == ")":
                            kd -= 1
                        if (
                            t2.kind == "punct"
                            and t2.text == ","
                            and kd == 0
                        ):
                            key_groups.append([])
                        else:
                            key_groups[-1].append(t2)
                    keys = [
                        re.sub(r"(?i)\s+ASC$", "", _render(g).strip())
                        for g in key_groups
                        if _render(g).strip()
                    ]
                    named = ", ".join(
                        f"'o{n}', {k}" for n, k in enumerate(keys)
                    )
                    repl = (
                        f"transform(array_sort(array_agg("
                        f"named_struct({named}, 'v', {expr}))), "
                        f"__x -> __x.v)"
                    )
                    out[i : close + 1] = tokenize(repl)
                    i += 1
                    continue
        i += 1
    return out


def _rw_ddl_null(toks: list[Tok]) -> list[Tok]:
    """Redshift column-def ``col TYPE NULL`` (explicitly nullable —
    nethone_signal DDL) -> drop the bare NULL: Spark's column spec
    takes NOT NULL but no affirmative form. Applied only to CREATE
    statements with no top-level AS (pure column-definition DDL), so
    NULL literals in queries are untouched; NOT NULL and DEFAULT
    NULL keep their NULL."""
    sigs = [k for k, t in enumerate(toks) if _is_sig(t)]
    if not sigs or not _word_is(toks[sigs[0]], "CREATE"):
        return toks
    depths = _depths(toks)
    if any(
        depths[k] == 0 and _word_is(toks[k], "AS") for k in sigs
    ):
        return toks
    out = list(toks)
    i = 0
    while i < len(out):
        if _word_is(out[i], "NULL"):
            p = _prev_sig(out, i)
            j = _next_sig(out, i)
            prev_ok = p >= 0 and out[p].kind in ("word", "punct") and \
                out[p].text not in ("(", ",") and \
                not _word_is(out[p], "NOT", "DEFAULT")
            next_ok = j < len(out) and out[j].kind == "punct" and \
                out[j].text in (",", ")")
            if prev_ok and next_ok:
                del out[i]
                continue
        i += 1
    return out


def _rw_temp_view_name(toks: list[Tok]) -> list[Tok]:
    """Spark temp views are single-part names; strip the schema
    qualifier a Redshift CREATE TEMP TABLE carried
    (price_drop_black_briday: ``data_engineer.price_drop_r_num``)."""
    out = list(toks)
    i = 0
    while i < len(out):
        if _word_is(out[i], "TEMPORARY"):
            j = _next_sig(out, i)
            if j < len(out) and _word_is(out[j], "VIEW"):
                k = _next_sig(out, j)
                while k < len(out) and out[k].kind == "word":
                    d = _next_sig(out, k)
                    if (
                        d < len(out)
                        and out[d].kind == "punct"
                        and out[d].text == "."
                    ):
                        nxt = _next_sig(out, d)
                        if nxt < len(out) and out[nxt].kind == "word":
                            del out[k:nxt]  # drop "schema."
                            continue
                    break
        i += 1
    return out


def _rw_brace_params(toks: list[Tok]) -> list[Tok]:
    """Python ``str.format`` holes in Airflow task SQL
    (``DELETE FROM {schema_name}.{table_name}`` --
    delete_all_table.sql) -> a visible identifier placeholder, same
    loud-at-analysis contract as ``__jinja_param__``."""
    out = list(toks)
    i = 0
    while i < len(out):
        if (
            out[i].kind == "punct"
            and out[i].text == "{"
            and i + 2 < len(out)
            and out[i + 1].kind == "word"
            and out[i + 2].kind == "punct"
            and out[i + 2].text == "}"
        ):
            out[i : i + 3] = [
                Tok("word", f"__param_{out[i + 1].text}__")
            ]
        i += 1
    return out


def _rw_psql_binds(toks: list[Tok]) -> list[Tok]:
    """psql / Airflow-operator ``:name`` bind variables
    (ds-airflow delete-partition scripts: ``WHERE year = :year``) ->
    the same loud identifier placeholder as ``{name}`` holes.
    ``::`` casts tokenize as ONE op, so a lone ``:`` followed by a
    word is unambiguous."""
    out = list(toks)
    i = 0
    while i < len(out):
        if (
            out[i].kind in ("punct", "op")
            and out[i].text == ":"
            and i + 1 < len(out)
            and out[i + 1].kind == "word"
        ):
            out[i : i + 2] = [
                Tok("word", f"__param_{out[i + 1].text}__")
            ]
        i += 1
    return out


def _rw_postfix_null(toks: list[Tok]) -> list[Tok]:
    """Postgres postfix null tests (``expr ISNULL`` / ``expr
    NOTNULL`` — churn_prediction Test_data.sql) -> ``IS [NOT]
    NULL``. A following ``(`` means the SQL-Server-style function
    call instead, which passes through untouched."""
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        if t.kind == "word" and t.text.lower() in ("isnull", "notnull"):
            p = _prev_sig(out, i)
            j = _next_sig(out, i)
            operand_before = p >= 0 and (
                (
                    out[p].kind == "word"
                    and out[p].text.upper() not in _NON_OPERAND_KW
                )
                or out[p].kind in ("str", "qid", "num")
                or (out[p].kind == "punct" and out[p].text == ")")
            )
            is_call = (
                j < len(out)
                and out[j].kind == "punct"
                and out[j].text == "("
            )
            if operand_before and not is_call:
                repl = [Tok("word", "IS"), Tok("ws", " ")]
                if t.text.lower() == "notnull":
                    repl += [Tok("word", "NOT"), Tok("ws", " ")]
                repl.append(Tok("word", "NULL"))
                out[i : i + 1] = repl
                i += len(repl)
                continue
        i += 1
    return out


def _rw_delete_bare(toks: list[Tok]) -> list[Tok]:
    """Redshift ``DELETE tbl WHERE ...`` (FROM-less form,
    0_event_properties_incremental.sql) -> ``DELETE FROM tbl``."""
    out = list(toks)
    i = _next_sig(out, -1)
    if i < len(out) and _word_is(out[i], "DELETE"):
        j = _next_sig(out, i)
        if (
            j < len(out)
            and out[j].kind == "word"
            and not _word_is(out[j], "FROM")
        ):
            out[i + 1 : i + 1] = [Tok("ws", " "), Tok("word", "FROM")]
    return out


def _rw_drop_cascade(toks: list[Tok]) -> list[Tok]:
    """``DROP TABLE/VIEW ... CASCADE|RESTRICT`` -> drop the modifier
    (Spark's parser takes neither; dependency cascade has no meaning
    for path-based tables)."""
    out = list(toks)
    i = _next_sig(out, -1)
    if not (i < len(out) and _word_is(out[i], "DROP")):
        return out
    sigs = [k for k, t in enumerate(out) if _is_sig(t)]
    if sigs and _word_is(out[sigs[-1]], "CASCADE", "RESTRICT"):
        del out[sigs[-1] :]
    return out


def _rw_jinja(toks: list[Tok]) -> list[Tok]:
    """``{{ ... }}`` template holes -> a bind-style named parameter
    (``:param``-less: we use an identifier the caller can define as a
    temp view column or session variable). Kept loud-and-visible as
    ``__jinja_param__`` so an unparameterized run fails at analysis,
    not silently."""
    out = []
    for t in toks:
        if t.kind == "jinja":
            out.append(Tok("word", "__jinja_param__"))
        elif t.kind == "str" and "{{" in t.text:
            # hole embedded in a literal ('{{ti.xcom_pull(...)}}' --
            # braze stage_data.sql); quotes inside the hole would
            # break Spark's lexer, so the hole text is replaced
            out.append(
                Tok(
                    "str",
                    re.sub(
                        r"\{\{.*?\}\}", "__jinja_param__", t.text,
                        flags=re.S,
                    ),
                )
            )
        else:
            out.append(t)
    return out


def _rw_qid_backtick(toks: list[Tok]) -> list[Tok]:
    """Double-quoted identifiers -> backtick identifiers, LAST pass.
    In Redshift a double-quoted token is ALWAYS an identifier (string
    literals are single-quoted), so the mapping is lossless — and it
    frees the consuming session from `spark.sql.ansi.
    doubleQuotedIdentifiers`, which only applies under ANSI mode.
    ANSI-on makes Spark reject the string-typed arithmetic /
    comparisons Redshift's implicit-cast matrix allows (the whole
    DATATYPE_MISMATCH residual of the r11 full-corpus measurement).
    With identifiers backticked, run_sql's non-ANSI engine session
    inherits Spark's lenient implicit casts, which are far closer to
    Redshift's."""
    out = []
    for t in toks:
        if t.kind == "qid" and t.text[:1] == '"':
            inner = t.text[1:-1].replace('""', '"')
            out.append(
                Tok("qid", "`" + inner.replace("`", "``") + "`")
            )
        else:
            out.append(t)
    return out


_PASSES = (
    _rw_words,
    _rw_jinja,
    _rw_brace_params,
    _rw_psql_binds,
    _rw_postfix_null,
    _rw_delete_bare,
    _rw_drop_cascade,
    _rw_no_schema_binding,
    _rw_set_stmt,
    _rw_refresh_mv,
    _rw_truncate,
    _rw_create_like,
    _rw_identity,
    _rw_ddl,
    _rw_ddl_null,
    _rw_array_agg_order,
    _rw_temp_view_name,
    _rw_update_from,
    _rw_delete_using,
    _rw_at_time_zone,
    _rw_trino,
    _rw_deferred_on,
    _rw_types,
    _rw_minmax_within_group,
    _rw_ignore_nulls,
    _rw_orderless_window,
    _rw_fn_arity,
    _rw_listagg_distinct_order,
    _rw_tilde,
    _rw_similar_to,
    _rw_quoted_units,
    _rw_interval_glued,
    _rw_datediff_boundary,
    _rw_to_char,
    _rw_to_date,
    _rw_json,
    _rw_qualify,
    _rw_qid_backtick,
)


def transpile(sql: str) -> str:
    """Rewrite one Redshift-dialect statement (or script) to Spark
    SQL. Raises TranspileError on constructs that cannot be rewritten
    faithfully.

    Apply ONCE: datetime-format translation is not idempotent (the
    Java codes it emits -- 'MM/dd hh:mm a' -- still look like
    Redshift codes to a second pass). run_sql() transpiles each
    statement exactly once. Corpus measurement: 5,970/5,995
    reference statements are bit-identical under double-transpile;
    all 25 diffs are this datetime-format shape."""
    toks = tokenize(sql)
    for p in _PASSES:
        toks = p(toks)
    return _render(toks)


def split_statements(sql: str) -> list[str]:
    """Split a script on top-level ``;`` (string/comment-safe)."""
    toks = tokenize(sql)
    stmts: list[list[Tok]] = [[]]
    for t in toks:
        if t.kind == "punct" and t.text == ";":
            stmts.append([])
        else:
            stmts[-1].append(t)
    return [s for s in (_render(ts).strip() for ts in stmts) if s]


# ---------------------------------------------------------------- session

_SQL_UDFS = (
    # JVM-side SQL UDFs: Catalyst inlines the RETURN expression into
    # the calling plan -- no Python round trip, codegen stays whole.
    "CREATE OR REPLACE TEMPORARY FUNCTION charindex(sub STRING, s STRING) "
    "RETURNS INT RETURN instr(s, sub)",
    "CREATE OR REPLACE TEMPORARY FUNCTION strpos(s STRING, sub STRING) "
    "RETURNS INT RETURN instr(s, sub)",
    # NULL -> false, matching functions.is_valid_json
    "CREATE OR REPLACE TEMPORARY FUNCTION is_valid_json(s STRING) "
    "RETURNS BOOLEAN RETURN try_parse_json(s) IS NOT NULL",
    "CREATE OR REPLACE TEMPORARY FUNCTION json_array_length_rs(s STRING) "
    "RETURNS INT RETURN json_array_length(s)",
    "CREATE OR REPLACE TEMPORARY FUNCTION isnumeric(s STRING) "
    "RETURNS BOOLEAN RETURN s RLIKE '^[+-]?([0-9]+\\\\.?[0-9]*|\\\\.[0-9]+)$'",
    "CREATE OR REPLACE TEMPORARY FUNCTION is_valid_json_array(s STRING) "
    "RETURNS BOOLEAN RETURN json_array_length(s) IS NOT NULL",
    # the reference warehouse's own Redshift UDF (f_json_ok) -- same
    # contract as is_valid_json
    "CREATE OR REPLACE TEMPORARY FUNCTION f_json_ok(s STRING) "
    "RETURNS BOOLEAN RETURN try_parse_json(s) IS NOT NULL",
    # Postgres timezone(zone, ts): render a UTC instant in `zone`
    "CREATE OR REPLACE TEMPORARY FUNCTION timezone(tz STRING, "
    "ts TIMESTAMP) RETURNS TIMESTAMP RETURN from_utc_timestamp(ts, tz)",
    "CREATE OR REPLACE TEMPORARY FUNCTION convert_to_utc_timestamp("
    "ts TIMESTAMP, tz STRING) RETURNS TIMESTAMP "
    "RETURN to_utc_timestamp(ts, tz)",
    "CREATE OR REPLACE TEMPORARY FUNCTION date_part_year(d DATE) "
    "RETURNS INT RETURN year(d)",
    "CREATE OR REPLACE TEMPORARY FUNCTION func_sha1(s STRING) "
    "RETURNS STRING RETURN sha1(s)",
    "CREATE OR REPLACE TEMPORARY FUNCTION get_array_length(s STRING) "
    "RETURNS INT RETURN json_array_length(s)",
    # Redshift boundary-semantics DATEDIFF (_rw_datediff_boundary):
    # each form truncates to the unit so elapsed == boundaries,
    # mirroring functions.datediff (oracle-validated in
    # f_datetime_kitchen_sink / wh_page_views). unix_timestamp keeps
    # the epoch diff config-robust (no timestamp->long cast).
    "CREATE OR REPLACE TEMPORARY FUNCTION dd_boundary_day("
    "s TIMESTAMP, e TIMESTAMP) RETURNS BIGINT "
    "RETURN CAST(datediff(CAST(e AS DATE), CAST(s AS DATE)) AS BIGINT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION dd_boundary_second("
    "s TIMESTAMP, e TIMESTAMP) RETURNS BIGINT "
    "RETURN unix_timestamp(date_trunc('SECOND', e)) - "
    "unix_timestamp(date_trunc('SECOND', s))",
    "CREATE OR REPLACE TEMPORARY FUNCTION dd_boundary_minute("
    "s TIMESTAMP, e TIMESTAMP) RETURNS BIGINT "
    "RETURN (unix_timestamp(date_trunc('MINUTE', e)) - "
    "unix_timestamp(date_trunc('MINUTE', s))) DIV 60",
    "CREATE OR REPLACE TEMPORARY FUNCTION dd_boundary_hour("
    "s TIMESTAMP, e TIMESTAMP) RETURNS BIGINT "
    "RETURN (unix_timestamp(date_trunc('HOUR', e)) - "
    "unix_timestamp(date_trunc('HOUR', s))) DIV 3600",
    "CREATE OR REPLACE TEMPORARY FUNCTION dd_boundary_week("
    "s TIMESTAMP, e TIMESTAMP) RETURNS BIGINT "
    "RETURN (unix_timestamp(date_trunc('WEEK', e)) - "
    "unix_timestamp(date_trunc('WEEK', s))) DIV 604800",
    "CREATE OR REPLACE TEMPORARY FUNCTION dd_boundary_month("
    "s TIMESTAMP, e TIMESTAMP) RETURNS BIGINT "
    "RETURN CAST((year(e) - year(s)) * 12 + (month(e) - month(s)) "
    "AS BIGINT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION dd_boundary_quarter("
    "s TIMESTAMP, e TIMESTAMP) RETURNS BIGINT "
    "RETURN CAST((year(e) - year(s)) * 4 + (quarter(e) - quarter(s)) "
    "AS BIGINT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION dd_boundary_year("
    "s TIMESTAMP, e TIMESTAMP) RETURNS BIGINT "
    "RETURN CAST(year(e) - year(s) AS BIGINT)",
)


def install(spark) -> None:
    """Prepare a session for transpiled Redshift SQL: double-quoted
    identifiers + the dialect SQL UDFs. Idempotent."""
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    for ddl in _SQL_UDFS:
        spark.sql(ddl)


def run_sql(spark, sql: str):
    """Transpile + execute a Redshift-dialect script; returns the
    last statement's DataFrame."""
    install(spark)
    result = None
    for stmt in split_statements(sql):
        result = spark.sql(transpile(stmt))
    return result
