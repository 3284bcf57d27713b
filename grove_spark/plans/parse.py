"""The parse stage: grok/regex field extraction from raw log lines (the
Spark analog of a Grove connector's response parsing).

One production form, all Catalyst (Java regex, whole-stage codegen, no
Python): an anchored pattern parses in ONE ``regexp_replace`` plus a
split per row (``_parse_array``); any other pattern, and any row the
single pass cannot handle exactly, takes one ``regexp_extract`` per
named group (``parse_catalyst``). The pattern and the row pick the
form, never the caller; ``parse_catalyst`` is also the spec the
single-pass form is tested against (``tests/test_parse_fast.py``).

Custom grok patterns expand to named-group regexes; named groups become
struct fields.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The fixture's synthetic log line (fixtures/generator.py):
#   "<iso-ts> level=<LEVEL> source=<src> doc=<doc_id> n=<n>"
DEFAULT_PATTERN = (
    r"^(?P<ts>\S+) level=(?P<level>\w+) source=(?P<src>[\w-]+) "
    r"doc=(?P<doc>[\w-]+) n=(?P<n>\d+)$"
)

# grok-ish shorthand -> regex, for config-supplied patterns
_GROK = {
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z?",
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "INT": r"\d+",
    "IP": r"\d{1,3}(?:\.\d{1,3}){3}",
    "GREEDYDATA": r".*",
}


def grok_to_regex(pattern: str) -> str:
    """Expand ``%{NAME:field}`` grok references into named regex groups."""

    def sub(m: re.Match) -> str:
        kind, name = m.group(1), m.group(2)
        return f"(?P<{name}>{_GROK[kind]})"

    return re.sub(r"%\{(\w+):(\w+)\}", sub, pattern)


def _named_groups(pattern: str) -> tuple[str, dict[str, int]]:
    """(the pattern with ``(?P<name>`` rewritten to a plain ``(`` — Java
    regex has no ``P`` syntax — and ``{name: group number}``).

    Spark addresses groups by NUMBER; ``groupindex`` carries each named
    group's true number, which stays correct even when the pattern mixes
    in unnamed capturing groups (order-of-appearance numbering silently
    extracted the wrong fields for those)."""
    groupindex = dict(re.compile(pattern).groupindex)
    return re.sub(r"\(\?P<\w+>", "(", pattern), groupindex


def parse_catalyst(raw: Column, pattern: str = DEFAULT_PATTERN) -> Column:
    """Compile the named-group regex to one regexp_extract per field.

    Catalyst caches the compiled Pattern per task; N extracts over the
    same line stay in one codegen stage.
    """
    plain, groups = _named_groups(pattern)
    return F.struct(
        *[F.regexp_extract(raw, plain, num).alias(name) for name, num in groups.items()]
    )


# Sentinels for the single-pass extract below. Rows whose raw line
# contains either byte take the per-group regexp_extract fallback, so
# the rewrite is exact for EVERY input, not just clean ones.
_SEP = "\x01"
_HIT = "\x02"
# Java's non-multiline ``$`` also matches just BEFORE a final line
# terminator, so replaceAll leaves that terminator after the last
# emitted group (``n=42\n`` -> ``'42\n'``) where regexp_extract yields
# ``'42'``. Lines ending in one take the exact fallback too; a
# ``\r\n`` ending is caught by its final ``\n``. The test is one
# EndsWith per terminator (a compare of the line's last bytes):
# ``substring(raw, -1, 1)`` walks the whole line to count characters,
# which made a 2M-row single-pass parse ~20% slower at local[4].
_LINE_TERMINATORS = ("\n", "\r", "\u0085", "\u2028", "\u2029")


def _ends_with_dollar_anchor(pattern: str) -> bool:
    """True when the pattern's trailing ``$`` is a real anchor (preceded
    by an even number of backslashes)."""
    if not pattern.endswith("$"):
        return False
    n, i = 0, len(pattern) - 2
    while i >= 0 and pattern[i] == "\\":
        n += 1
        i -= 1
    return n % 2 == 0


def _single_pass_eligible(pattern: str) -> bool:
    """The one-``regexp_replace`` form is exact only when a match is
    guaranteed to span the whole line exactly once: the pattern must be
    ``^``-anchored and ``$``-anchored AT THE TOP LEVEL. Conservative
    syntactic gate — any top-level alternation (anchors would bind to
    one branch only) or inline flag group (``(?m)`` makes ``^``/``$``
    match per line, multiplying replaceAll matches) falls back to the
    per-group extracts."""
    if not (pattern.startswith("^") and _ends_with_dollar_anchor(pattern)):
        return False
    if "|" in pattern:
        return False
    # "(?" introducing anything but a named group (?P<, non-capturing
    # (?:, or lookaround (?=, (?!, (?< is a flag/conditional construct
    if re.search(r"\(\?[^P:=!<]", pattern):
        return False
    return True


def _parse_array(raw: Column, pattern: str, rep: Column) -> Column:
    """One regex pass per row instead of one per field, for a pattern
    that is ``_single_pass_eligible``.

    ``rep`` is ``_parse_replace``'s column: ``regexp_replace`` of the
    anchored pattern with ``\\x02$g1\\x01$g2...`` emits every capture
    group in a single match. A replaced line starts with the ``\\x02``
    hit sentinel and splits into exactly k fields (Java's
    appendReplacement substitutes the empty string for a group that did
    not participate — the same value ``regexp_extract`` yields for it);
    an untouched line means no match, which is all-empty fields,
    ``regexp_extract``'s miss value. Lines that already contain a
    sentinel byte, end in a line terminator (see ``_LINE_TERMINATORS``)
    or are NULL take the exact per-group fallback, so results are
    identical for arbitrary input. The CASE references ``rep`` twice
    (hit test + split), so the caller hoists it into its own projection;
    inlined, the regex would run twice per row.
    """
    plain, groups = _named_groups(pattern)
    ends_in_terminator = F.lit(False)
    for t in _LINE_TERMINATORS:
        ends_in_terminator = ends_in_terminator | raw.endswith(t)
    return (
        F.when(
            raw.isNull()
            | raw.contains(_SEP)
            | raw.contains(_HIT)
            | ends_in_terminator,
            F.array(*[F.regexp_extract(raw, plain, n) for n in groups.values()]),
        )
        .when(
            rep.startswith(_HIT),
            F.split(F.substring(rep, 2, 2147483647), _SEP, -1),
        )
        .otherwise(F.array(*[F.lit("")] * len(groups)))
    )


def _parse_replace(raw: Column, pattern: str) -> Column:
    """The single regex pass: every group emitted in one replace."""
    plain, groups = _named_groups(pattern)
    repl = _HIT + _SEP.join(f"${n}" for n in groups.values())
    return F.regexp_replace(raw, plain, repl)


def parse_stage(
    df: DataFrame,
    raw_col: str = "raw",
    pattern: str = DEFAULT_PATTERN,
    out_col: str = "parsed",
) -> DataFrame:
    if "%{" in pattern:
        pattern = grok_to_regex(pattern)
    names = list(_named_groups(pattern)[1])
    if not names or not _single_pass_eligible(pattern):
        return df.withColumn(out_col, parse_catalyst(F.col(raw_col), pattern))
    # Replace and group-array each live in their OWN projection: both
    # are non-cheap and referenced more than once downstream, so
    # CollapseProject keeps the projects apart and the regex runs ONCE
    # per row (inlined, the CASE's hit test + split branch would re-run
    # the replace, and each field the array — the same CSE rule the
    # minhash __hs projection relies on). Measured on the 2M-row
    # pipeline leg: 2.43 s -> 1.67 s wall (five anchored matches/row
    # down to one match + one split).
    tmp_rep, tmp_arr = "__parse_rep", "__parse_arr"
    while tmp_rep in df.columns:
        tmp_rep += "_"
    while tmp_arr in df.columns:
        tmp_arr += "_"
    parsed = F.struct(
        *[F.element_at(F.col(tmp_arr), i + 1).alias(n) for i, n in enumerate(names)]
    )
    return (
        df.withColumn(tmp_rep, _parse_replace(F.col(raw_col), pattern))
        .withColumn(
            tmp_arr, _parse_array(F.col(raw_col), pattern, F.col(tmp_rep))
        )
        .withColumn(out_col, parsed)
        .drop(tmp_rep, tmp_arr)
    )


def parse_stage_multi(
    df: DataFrame,
    patterns: dict,
    key_col: str = "source",
    raw_col: str = "raw",
    out_col: str = "parsed",
) -> DataFrame:
    """Per-connector grok patterns in ONE plan: each source's lines parse
    with its own pattern (the reference's per-connector response parsing,
    one class each; here one CASE over compiled extracts). The output
    struct is the UNION of every pattern's named groups — fields a
    pattern lacks are null for its rows, so heterogeneous vendor formats
    land in one typed column. Stays entirely inside codegen (a chain of
    ``when`` over regexp_extract structs; grok shorthand expands first).
    """
    compiled = {
        k: grok_to_regex(p) if "%{" in p else p for k, p in patterns.items()
    }
    all_fields: list[str] = []
    for p in compiled.values():
        for n in _named_groups(p)[1]:
            if n not in all_fields:
                all_fields.append(n)

    def struct_for(p: str) -> Column:
        plain, groupindex = _named_groups(p)
        cols = []
        for n in all_fields:
            if n in groupindex:
                cols.append(
                    F.regexp_extract(F.col(raw_col), plain, groupindex[n]).alias(n)
                )
            else:
                cols.append(F.lit(None).cast("string").alias(n))
        return F.struct(*cols)

    expr = None
    for k, p in compiled.items():
        branch = F.when(F.col(key_col) == k, struct_for(p))
        expr = branch if expr is None else expr.when(F.col(key_col) == k, struct_for(p))
    null_struct = F.lit(None).cast(
        T.StructType([T.StructField(n, T.StringType()) for n in all_fields])
    )
    expr = expr.otherwise(null_struct) if expr is not None else null_struct
    return df.withColumn(out_col, expr)
