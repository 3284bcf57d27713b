"""Single-pass parse_stage fast path (r6): one regexp_replace per row
must be byte-identical to the per-group regexp_extract spec — including
the adversarial rows that force the fallback branch."""

import pyspark.sql.functions as F
import pytest

from grove_spark.plans.parse import (
    DEFAULT_PATTERN,
    _single_pass_eligible,
    parse_catalyst,
    parse_stage,
)


def _spec(df, pattern):
    """The executable spec: the original per-group extract form."""
    return df.withColumn("parsed", parse_catalyst(F.col("raw"), pattern))


def _check(spark, rows, pattern):
    df = spark.createDataFrame([(r,) for r in rows], "raw string")
    got = parse_stage(df, "raw", pattern).select("raw", "parsed").collect()
    want = _spec(df, pattern).select("raw", "parsed").collect()
    assert got == want


ADVERSARIAL_ROWS = [
    "2026-01-01T00:00:00Z level=info source=src-1 doc=d-1 n=42",  # match
    "no match at all",
    "",
    None,
    # sentinel bytes in otherwise-matching lines -> exact fallback
    "2026-01-01T00:00:00Z level=info source=src\x011 doc=d n=1",
    "\x02x level=info source=s doc=d n=2",
    # prefix/suffix garbage: anchored pattern must miss
    "x 2026-01-01T00:00:00Z level=info source=s doc=d n=3",
    "2026-01-01T00:00:00Z level=info source=s doc=d n=4 trailing",
    # Java's `$` matches before a final line terminator: the replace
    # would keep it on the last field -> exact fallback
    "2026-01-01T00:00:00Z level=info source=s doc=d n=5\n",
    "2026-01-01T00:00:00Z level=info source=s doc=d n=6\r\n",
    "2026-01-01T00:00:00Z level=info source=s doc=d n=7\r",
    "2026-01-01T00:00:00Z level=info source=s doc=d n=8\u0085",
    "2026-01-01T00:00:00Z level=info source=s doc=d n=9\u2028",
    "2026-01-01T00:00:00Z level=info source=s doc=d n=10\u2029",
    # a terminator mid-line is no anchor position: both paths miss
    "2026-01-01T00:00:00Z level=info\nsource=s doc=d n=11",
    "\n",
]


def test_default_pattern_parity(spark):
    _check(spark, ADVERSARIAL_ROWS, DEFAULT_PATTERN)


def test_fast_path_engaged_for_default_pattern(spark):
    assert _single_pass_eligible(DEFAULT_PATTERN)
    df = spark.createDataFrame([("a",)], "raw string")
    plan = parse_stage(df, "raw").select("parsed")._jdf.queryExecution().executedPlan().toString()
    assert "regexp_replace" in plan
    # the shared array stays in its own projection (CollapseProject must
    # not inline the regex once per field)
    assert "__parse_arr" in plan


def test_optional_group_not_participating(spark):
    # group n does not participate on the second row: Java substitutes
    # "" in appendReplacement, regexp_extract yields "" — must agree
    pat = r"^(?P<a>\w+)(?: n=(?P<n>\d+))?$"
    _check(spark, ["abc n=7", "abc", "", None, "a b"], pat)


def test_unnamed_groups_shift_numbering(spark):
    pat = r"^(\w+) (?P<a>\w+) (?P<b>\w+)$"
    _check(spark, ["x y z", "x y", None], pat)


def test_many_groups_two_digit_refs(spark):
    names = [f"g{i}" for i in range(12)]
    pat = "^" + " ".join(f"(?P<{n}>\\w+)" for n in names) + "$"
    row = " ".join(f"v{i}" for i in range(12))
    _check(spark, [row, "short miss", None], pat)


def test_empty_match_pattern(spark):
    _check(spark, ["", "abc", "a b", None], r"^(?P<a>\w*)$")


@pytest.mark.parametrize(
    "pat",
    [
        r"(?P<a>\w+)",              # unanchored
        r"^(?P<a>\w+)$|^x$",        # top-level alternation
        r"^(?P<a>(?s:.+))$",        # scoped-flag group (Java semantics risk)
        r"^(?P<a>\w+)\$",           # escaped trailing dollar
    ],
)
def test_ineligible_patterns_fall_back(spark, pat):
    assert not _single_pass_eligible(pat)
    _check(spark, ["abc", "x", "a\nb", "p$", None], pat)


def test_eligibility_gate():
    assert _single_pass_eligible(r"^(?P<a>\S+) (?:x)(?P<b>\w+)$")
    assert _single_pass_eligible(r"^(?P<a>\w+)\\$")  # \\$ = literal \ + anchor
    assert not _single_pass_eligible(r"^(?P<a>\w+)\$")
    assert not _single_pass_eligible(r"^(?i)(?P<a>\w+)$")
    assert not _single_pass_eligible(r"^(?P<a>a|b)$")
