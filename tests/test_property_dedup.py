"""Property-based parity for the incremental dedup core: randomized
sorted-unique pointer streams (string AND numeric pointers) through
dedup_by_pointer / dedup_by_hash must agree with the reference-shaped
walk semantics in oracle/pyref.py.

The exact predicate and the reference's positional walk coincide exactly
when the stream is sorted with unique pointer values (the documented
deviation: on duplicated pointer values the reference 'prefers
duplicates over loss' while the predicate is exact — covered separately
by the boundary-hash tests). Properties quantify over that agreed
domain, plus randomized content for the seen-hash anti-join.
"""

import pyspark.sql.types as T
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from grove_spark.operators.dedup import (
    boundary_hashes,
    dedup_by_hash,
    dedup_by_pointer,
)
from grove_spark.oracle import pyref

SETTINGS = dict(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**SETTINGS)
@given(
    ptrs=st.lists(st.integers(0, 40), unique=True, min_size=1, max_size=10),
    pick=st.integers(0, 10_000),
    numeric=st.booleans(),
)
def test_pointer_dedup_matches_reference_walk(spark, ptrs, pick, numeric):
    """For sorted unique pointers, the typed predicate == the walk.
    ``numeric`` exercises BOTH a bigint pointer column (native ordering)
    and a zero-padded string pointer column (lexicographic ordering that
    agrees with numeric thanks to the padding — opaque-cursor shape)."""
    ptrs = sorted(ptrs)
    if numeric:
        entries = [{"timestamp": p, "doc": f"d{p}"} for p in ptrs]
        schema = "timestamp long, doc string"
        as_str = str
    else:
        entries = [{"timestamp": f"{p:04d}", "doc": f"d{p}"} for p in ptrs]
        schema = "timestamp string, doc string"
        as_str = lambda p: f"{p:04d}"
    pointer = None if pick % 3 == 0 else as_str(ptrs[pick % len(ptrs)])

    df = spark.createDataFrame(entries, schema)
    got = sorted(
        r["doc"] for r in dedup_by_pointer(df, "timestamp", pointer).collect()
    )
    walk = pyref.dedup_by_pointer_chronological(entries, "timestamp", pointer)
    assert got == sorted(w["doc"] for w in walk)

    # reverse-chronological delivery, same exact predicate, same outcome
    rev = spark.createDataFrame(list(reversed(entries)), schema)
    got_rev = sorted(
        r["doc"]
        for r in dedup_by_pointer(rev, "timestamp", pointer, "REVERSE_CHRONOLOGICAL").collect()
    )
    assert got_rev == got


SCHEMA = T.StructType([
    T.StructField("timestamp", T.StringType()),
    T.StructField("event", T.StringType()),
])
KEYED = T.StructType([T.StructField("k", T.StringType()), *SCHEMA.fields])
PAGE1 = st.lists(
    st.tuples(st.integers(0, 5), st.sampled_from(["A", "B", "C"])),
    min_size=1, max_size=8, unique=True,
)


@settings(**SETTINGS)
@given(
    page1=PAGE1,
    page1_y=PAGE1,
    page2=st.lists(
        st.tuples(st.integers(3, 8), st.sampled_from(["A", "B", "C", "D"])),
        min_size=1, max_size=8, unique=True,
    ),
)
def test_hash_dedup_matches_reference(spark, page1, page1_y, page2):
    """Boundary seen-hashes from page1 anti-join page2 exactly as the
    reference's deduplicate_by_hash would (pyref oracle), including
    same-pointer different-content survivors.

    Keyed form (the fleet's per-member state, ``key_cols``): keys x and
    y resume from their own page1 and then both read the SAME page2 rows
    — shared pointers and contents — so one key's seen hashes dropping
    the other key's rows would show against the per-key oracle."""
    cols = ["timestamp", "event"]

    def entries(page):
        return [{"timestamp": str(t), "event": e} for t, e in sorted(page)]

    def want(p1, p2):
        all_hashes = pyref.dedup_by_hash(p1, "timestamp", {})[1]
        bound = max(all_hashes)  # string pointers, single digits -> max is the boundary
        old = {p: h for p, h in all_hashes.items() if p == bound}
        kept, _ = pyref.dedup_by_hash(p2, "timestamp", old)
        return sorted((w["timestamp"], w["event"]) for w in kept)

    p1, p1_y, p2 = entries(page1), entries(page1_y), entries(page2)
    seen_df = boundary_hashes(spark.createDataFrame(p1, schema=SCHEMA), cols, "timestamp")
    out = dedup_by_hash(spark.createDataFrame(p2, schema=SCHEMA), seen_df, cols, "timestamp")
    assert sorted((r["timestamp"], r["event"]) for r in out.collect()) == want(p1, p2)

    def keyed(pages):
        return spark.createDataFrame(
            [(k, e["timestamp"], e["event"]) for k, page in pages.items() for e in page],
            schema=KEYED,
        )

    seen_k = boundary_hashes(keyed({"x": p1, "y": p1_y}), cols, "timestamp", key_cols=["k"])
    out_k = dedup_by_hash(
        keyed({"x": p2, "y": p2}), seen_k, cols, "timestamp", key_cols=["k"]
    ).collect()
    for k, p1_k in (("x", p1), ("y", p1_y)):
        got = sorted((r["timestamp"], r["event"]) for r in out_k if r["k"] == k)
        assert got == want(p1_k, p2), k
