"""Grok-style pattern parsing (the log-pipeline parse surface).

Grok is the fluentd/logstash convention of naming reusable regex
fragments: ``%{IP:client} %{WORD:method}`` expands to named capture
groups. This module compiles a grok expression to a plain regex and
extracts all fields in one pass of JVM-side ``regexp_extract`` calls
(group indices computed at compile time, same trick as parse.py — the
pattern and the indices can't drift).

The pattern library is the public de-facto core set (logstash
grok-patterns); only patterns used by tests/queries are included, all
RE2-compatible so the DuckDB oracle can run the identical regex.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

CORE_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?(?:[0-9]+)",
    "NUMBER": r"(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?))",
    "IP": r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}",
    "HTTPDATE": r"[0-9]{2}/\w{3}/[0-9]{4}:[0-9]{2}:[0-9]{2}:[0-9]{2} [+-][0-9]{4}",
    "QS": r"\"[^\"]*\"",
    "USER": r"[a-zA-Z0-9._-]+",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%_\-]*)+",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def compile_grok(expr: str, patterns: dict[str, str] | None = None) -> tuple[str, dict[str, int]]:
    """Expand %{NAME:field} refs -> (regex, {field: group_index}).

    Fields become anonymous groups addressed by number (Java regex
    forbids '_' in group names); nameless refs become non-capturing.

    Literal text between refs is matched VERBATIM (``re.escape``-d), so
    ``(`` / ``+`` / ``[`` in the expression can't silently change the
    regex or shift group numbering; a user who wants raw regex supplies
    it as a custom pattern via ``patterns``.  re.escape only escapes
    regex metacharacters, and ``\\(`` ``\\[`` ``\\+`` etc. mean the same
    in Python, Java, and RE2/DuckDB, so one compiled regex serves all
    three engines."""
    lib = {**CORE_PATTERNS, **(patterns or {})}
    out = []
    fields: list[str] = []
    pos = 0
    for m in _GROK_REF.finditer(expr):
        out.append(re.escape(expr[pos:m.start()]))
        name, field = m.group(1), m.group(2)
        if name not in lib:
            raise KeyError(f"unknown grok pattern %{{{name}}}")
        body = lib[name]
        if field:
            out.append(f"({body})")
            fields.append(field)
        else:
            out.append(f"(?:{body})")
        pos = m.end()
    out.append(re.escape(expr[pos:]))
    regex = "".join(out)
    # group numbering: count opening groups of the assembled regex
    gi: dict[str, int] = {}
    compiled = re.compile(regex.replace("(?<", "(?P<"))
    # anonymous field groups: their numbers are the capturing groups in
    # order of appearance that are NOT from the library bodies' own
    # groups... simplest robust approach: re-expand with named groups to
    # ask Python for the numbering, then strip names.
    named = []
    fields_iter = iter(range(len(fields)))
    pos = 0
    for m in _GROK_REF.finditer(expr):
        named.append(re.escape(expr[pos:m.start()]))
        name, field = m.group(1), m.group(2)
        body = lib[name]
        if field:
            named.append(f"(?P<f{next(fields_iter)}>{body})")
        else:
            named.append(f"(?:{body})")
        pos = m.end()
    named.append(re.escape(expr[pos:]))
    named_rx = re.compile("".join(named))
    for i, field in enumerate(fields):
        gi[field] = named_rx.groupindex[f"f{i}"]
    _ = compiled  # validated RE2/Python-compatible
    return regex, gi


def grok_extract(df: DataFrame, source_col: str, expr: str,
                 patterns: dict[str, str] | None = None,
                 prefix: str = "") -> DataFrame:
    """Add one column per grok field (null when the line doesn't match).

    Per-field ``when(matched, extract)`` ON PURPOSE (round 7): a staged
    all-fields struct (the parse.extract_source_fields trick) was measured
    SLOWER here — 1.6 s vs 1.0 s on the sf0.1 logs — because queries
    select a SUBSET of grok fields and column pruning removes unused
    per-field extracts but cannot prune inside a materialized struct,
    while whole-stage-codegen subexpression elimination already dedups
    the repeated rlike across the per-field CASE conditions."""
    regex, gi = compile_grok(expr, patterns)
    src = F.col(source_col)
    matched = src.rlike(regex)
    for field, idx in gi.items():
        df = df.withColumn(
            prefix + field, F.when(matched, F.regexp_extract(src, regex, idx))
        )
    return df.withColumn(prefix + "grok_matched", matched)


# Apache/nginx combined access log
APACHE_COMBINED = (
    '%{IP:clientip} %{USER:ident} %{USER:auth} [%{HTTPDATE:timestamp}] '
    '"%{WORD:verb} %{URIPATH:request} HTTP/%{NUMBER:httpversion}" '
    '%{INT:response} %{INT:bytes}'
)
