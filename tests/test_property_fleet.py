"""Property-based parity for the fleet's resume filter: assemble_fleet
carries each member's resume state as member-dim columns and filters
with one fixed expression per pointer column. Its deduped stream must
equal, as a multiset, the per-member predicate form below — one
``source = s AND pc > wm`` branch per member in the scan predicate, one
``member AND pc > wm`` branch per member in the exact filter, and a
per-member pointer CASE for the seen-hash anti-join — which is the spec.
"""

import datetime as dt

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from grove_spark.config import ConnectorConfig, assemble_fleet
from grove_spark.functions.hashing import entry_hash
from grove_spark.operators.dedup import (
    ENTRY_HASH_COLS,
    dedup_by_hash,
    watermark_literal,
)
from grove_spark.operators.enrich import enrich
from grove_spark.session import local_frame

SETTINGS = dict(
    max_examples=20, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
SEQ_SCHEMA = "doc_id string, tokens array<int>, source string, ts timestamp, seq bigint"
T0 = dt.datetime(2024, 1, 1)
KEYS = ["connector", "identity", "operation"]


def per_member_spec(spark, configs, sequences, watermarks, pointer_col,
                    seen_states, pointer_cols):
    """The per-member OR form of the fleet's deduped stream."""
    coarse = exact = ptr_case = None
    seen_rows = []
    pcs = set()
    for m in configs:
        ref = m.reference()
        pc = pointer_cols.get(ref, pointer_col)
        pcs.add(pc)
        wm = watermarks.get(ref)
        seen = seen_states.get(ref, {})
        if wm:
            lit_wm = watermark_literal(sequences, pc, wm)
            cmp = F.col(pc) >= lit_wm if seen else F.col(pc) > lit_wm
        else:
            cmp = F.lit(True)
        c = (F.col("source") == m.source) & cmp
        coarse = c if coarse is None else (coarse | c)
        is_m = (
            (F.col("connector") == m.connector)
            & (F.col("identity") == m.identity)
            & (F.col("operation") == m.operation)
        )
        e = is_m & cmp
        exact = e if exact is None else (exact | e)
        seen_rows += [
            (m.connector, m.identity, m.operation, ptr, h)
            for ptr, hs in seen.items() for h in hs
        ]
        ptr_case = (F.when if ptr_case is None else ptr_case.when)(
            is_m, F.col(pc).cast("string")
        )
    dim = local_frame(
        spark,
        [(c.source, c.connector, c.identity, c.operation, c.frequency, c.delay)
         for c in configs],
        "source string, connector string, identity string, operation string, "
        "frequency int, delay int",
    )
    ded = enrich(sequences.where(coarse), dim, on="source").where(exact)
    if seen_rows:
        seen_df = local_frame(
            spark, seen_rows,
            "connector string, identity string, operation string, "
            "pointer string, hash string",
        )
        ded = dedup_by_hash(
            ded, seen_df, ENTRY_HASH_COLS,
            next(iter(pcs)) if len(pcs) == 1 else ptr_case, key_cols=KEYS,
        )
    return ded


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect())
    )


def _ptr_str(pc, v):
    # the string Spark's cast(pc as string) commits for value v
    return f"2024-01-01 00:00:0{v}" if pc == "ts" else str(v)


ROWS = st.lists(
    st.tuples(
        st.sampled_from(["A", "B", "C"]),            # content (doc_id)
        st.sampled_from(["a", "b"]),                 # source
        st.one_of(st.none(), st.integers(0, 5)),     # ts, seconds past T0
        st.one_of(st.none(), st.integers(0, 5)),     # seq
    ),
    min_size=1, max_size=14,
)
MEMBERS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                 # source
        st.sampled_from(["x", "y"]),                 # identity
        st.sampled_from(["ts", "seq"]),              # pointer column
        st.one_of(st.none(), st.integers(0, 5)),     # watermark
        st.one_of(st.none(), st.sets(st.sampled_from(["A", "B", "C", "Z"]))),  # seen
    ),
    min_size=1, max_size=4, unique_by=lambda m: (m[0], m[1]),
)


EDGE_ROWS = [
    ("A", "a", 2, None), ("B", "a", 2, 1), ("C", "a", 3, 1),
    ("A", "a", None, 2), ("B", "b", 1, 3), ("C", "b", 3, None),
]


@settings(**SETTINGS)
@given(rows=ROWS, members=MEMBERS, mixed=st.booleans())
# pinned: an inclusive member with an unseen row AT its watermark, a
# second identity on that source at a lower strict watermark, a member
# with no watermark, null pointers; the same across mixed columns
@example(
    rows=EDGE_ROWS, mixed=False,
    members=[("a", "x", "ts", 2, {"A"}), ("a", "y", "ts", 1, None),
             ("b", "x", "ts", None, None)],
)
@example(
    rows=EDGE_ROWS, mixed=True,
    members=[("a", "x", "seq", 1, {"C"}), ("a", "y", "ts", 2, {"A"}),
             ("b", "x", "seq", 3, {"B", "Z"}), ("b", "y", "ts", None, None)],
)
# every member resumed on one column: the scan bound is the lowest
# watermark, inclusive because that member has seen hashes
@example(
    rows=EDGE_ROWS, mixed=False,
    members=[("b", "x", "ts", 3, None), ("a", "x", "ts", 2, {"A"})],
)
def test_member_dim_filter_matches_per_member_spec(spark, rows, members, mixed):
    """Members with and without a watermark and seen hashes (inclusive vs
    strict), two identities on one source at different watermarks, rows
    exactly at a watermark, null pointers, a numeric pointer column and
    mixed pointer columns: the member-dim filter keeps the same rows as
    the per-member form."""
    seq = local_frame(
        spark,
        [(d, [1], s, None if t is None else T0 + dt.timedelta(seconds=t), q)
         for d, s, t, q in rows],
        SEQ_SCHEMA,
    )
    hashes = {
        r["doc_id"]: r["h"]
        for r in local_frame(spark, [(d, [1]) for d in "ABCZ"],
                             "doc_id string, tokens array<int>")
        .select("doc_id", entry_hash(ENTRY_HASH_COLS).alias("h")).collect()
    }
    pointer_col = members[0][2]
    cfgs, watermarks, seen_states, pointer_cols = [], {}, {}, {}
    for source, ident, pc, wm, seen in members:
        cfg = ConnectorConfig(connector=f"{source}_audit", identity=ident, source=source)
        ref = cfg.reference()
        cfgs.append(cfg)
        pc = pc if mixed else pointer_col
        if pc != pointer_col:
            pointer_cols[ref] = pc
        if wm is not None:
            watermarks[ref] = _ptr_str(pc, wm)
            if seen:
                # "Z" never occurs in the rows: a stale hash at the pointer
                seen_states[ref] = {watermarks[ref]: sorted(hashes[d] for d in seen)}

    _, got = assemble_fleet(
        spark, cfgs, seq, watermarks, pointer_col,
        seen_states=seen_states, return_deduped=True, pointer_cols=pointer_cols,
    )
    want = per_member_spec(
        spark, cfgs, seq, watermarks, pointer_col, seen_states, pointer_cols
    )
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got) == _rows(want)


def test_uncastable_watermark_is_loud(spark):
    """A stored watermark that cannot cast to its pointer column's type
    raises from assemble_fleet instead of becoming a NULL bound."""
    seq = local_frame(spark, [("A", [1], "a", T0, 1)], SEQ_SCHEMA)
    cfg = ConnectorConfig(connector="a_audit", identity="x", source="a")
    with pytest.raises(ValueError, match="does not cast"):
        assemble_fleet(spark, [cfg], seq, {cfg.reference(): "not-a-time"}, "ts")
    with pytest.raises(ValueError, match="does not cast"):
        assemble_fleet(
            spark, [cfg], seq, {cfg.reference(): "2024-01-01 00:00:00"}, "ts",
            pointer_cols={cfg.reference(): "seq"},
        )
