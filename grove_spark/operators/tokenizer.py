"""Trained byte-level BPE tokenizer — text -> the pipeline's native
``tokens: array<int32>`` column.

The routing/enrich pipeline (plans/pipeline.py) consumes PRE-tokenized
sequences; this operator is the missing front door: train a byte-pair
vocabulary on a corpus and materialize ``(doc_id, tokens, n_tok,
source)`` from raw documents — the exact input shape the engine's
10^12-row table carries. No external model or tokenizer library.

Scale shape (the 100 TB story):

* TRAINING is one distributed piece-frequency aggregation (built-in
  ``regexp_extract_all`` + explode + groupBy — map-side combined) whose
  top ``max_words`` rows come to the driver; the merge loop runs there
  over that bounded, Zipf-truncated table (the IVF-centroid pattern:
  bounded driver sample, distributed everything-else). Truncation is
  principled: BPE statistics are dominated by frequent pieces.
* ENCODE is one ``mapInArrow`` kernel (Arrow batches, zero shuffle,
  no per-row Python in the plan) with a per-executor piece->ids memo —
  Zipf makes the memo hit rate ~1, so each distinct piece pays the
  merge walk once per executor, not once per occurrence.
* DECODE compiles to pure Catalyst (``F.aggregate`` concat over a
  literal id->bytes array) — JVM-side, no Python anywhere in the plan
  (higher-order functions evaluate outside the codegen span but never
  leave the executor JVM).

Byte-level base vocabulary (ids 0..255 are raw bytes) guarantees every
string is encodable and ``decode(encode(s)) == s`` EXACTLY — there is
no unknown-token path. Pre-tokenization bounds merges to piece
boundaries; its regex partitions the string completely (letters |
digits | whitespace | underscore | other), so piece concatenation is
lossless. The Spark-side training splitter uses the Java-regex
equivalent; for exotic scripts the two may split differently, which
only shifts training statistics — apply-time roundtrip never depends
on it.

Reference contact: grove has no tokenizer (it ships raw log entries;
processors/split_path.py:1 is its only text splitter) — this operator
is part of the beyond-reference training-data surface, same family as
operators/packing.py.
"""

from __future__ import annotations

import contextlib
import re
from dataclasses import dataclass
from functools import cached_property
from typing import Dict, Iterator, List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Python (apply-time, canonical) and Java (train-time, distributed)
# piece splitters. Both partition completely; see module docstring.
_PY_PIECE = re.compile(r"[^\W\d_]+|\d+|\s+|[^\w\s]+|_+")
SPARK_PIECE_PAT = r"[\p{L}\p{M}]+|\p{N}+|\s+|[^\p{L}\p{M}\p{N}\s_]+|_+"

_BASE = 256  # ids 0..255 are raw bytes


@dataclass(frozen=True)
class BPETokenizer:
    """An immutable trained tokenizer: ``merges[i]`` is the byte-pair
    merged into id ``256 + i``. ``vocab_bytes[id]`` is the id's byte
    string (the decode table)."""

    merges: Tuple[Tuple[int, int], ...]

    @property
    def vocab_size(self) -> int:
        return _BASE + len(self.merges)

    # cached_property writes straight into __dict__, which bypasses the
    # frozen guard — the dataclass stays immutable to callers while the
    # derived tables build once per instance (ranks() sits on the encode
    # hot path: one lookup table, not one dict build per piece)
    @cached_property
    def vocab_bytes(self) -> List[bytes]:
        out = [bytes([i]) for i in range(_BASE)]
        for a, b in self.merges:
            out.append(out[a] + out[b])
        return out

    @cached_property
    def _ranks(self) -> Dict[Tuple[int, int], int]:
        return {pair: i for i, pair in enumerate(self.merges)}

    def ranks(self) -> Dict[Tuple[int, int], int]:
        return self._ranks

    # -- plain-python encode/decode (the executable spec; tests + memo
    #    kernel both call it) --------------------------------------------
    def encode_piece(self, piece: str) -> List[int]:
        ids = list(piece.encode("utf-8"))
        ranks = self._ranks
        while len(ids) > 1:
            best, best_rank = None, None
            for pair in zip(ids, ids[1:]):
                r = ranks.get(pair)
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = pair, r
            if best is None:
                break
            a, b = best
            merged, i = [], 0
            while i < len(ids):
                if i + 1 < len(ids) and ids[i] == a and ids[i + 1] == b:
                    merged.append(_BASE + best_rank)
                    i += 2
                else:
                    merged.append(ids[i])
                    i += 1
            ids = merged
        return ids

    def encode(self, text: str) -> List[int]:
        out: List[int] = []
        for piece in _PY_PIECE.findall(text):
            out.extend(self.encode_piece(piece))
        return out

    def decode(self, ids: List[int]) -> str:
        vb = self.vocab_bytes
        return b"".join(vb[i] for i in ids).decode("utf-8")

    # -- persistence: the trained vocab is a managed artifact (the
    #    _ann_meta.json pattern, operators/ann_index.py) — a tokenizer
    #    trained once at ingest must be byte-identically reloadable by
    #    every later job or token ids stop meaning anything ------------
    def save(self, path: str) -> None:
        import json as _json
        import os as _os
        import tempfile as _tempfile

        # unique tmp per writer (mkstemp) + atomic replace: concurrent
        # saves cannot truncate each other's in-flight bytes, readers
        # never see a torn file (same scheme as runstate._atomic_write)
        fd, tmp = _tempfile.mkstemp(
            dir=_os.path.dirname(_os.path.abspath(path)) or ".",
            prefix=_os.path.basename(path) + ".",
        )
        try:
            with _os.fdopen(fd, "w") as f:
                _json.dump(
                    {"format": "grove-bpe-v1",
                     "merges": [list(p) for p in self.merges]},
                    f,
                )
            _os.replace(tmp, path)
        except BaseException:
            with contextlib.suppress(OSError):
                _os.remove(tmp)
            raise

    @classmethod
    def load(cls, path: str) -> "BPETokenizer":
        import json as _json

        with open(path) as f:
            d = _json.load(f)
        if d.get("format") != "grove-bpe-v1":
            raise ValueError(f"not a grove BPE vocab file: {path}")
        merges = tuple((int(a), int(b)) for a, b in d["merges"])
        # validate ids at load time: merge i may only reference bytes or
        # earlier merges (< 256+i) — a corrupt-but-well-formed file must
        # fail HERE with the file named, not as an IndexError deep in a
        # later decode
        for i, (a, b) in enumerate(merges):
            if not (0 <= a < _BASE + i and 0 <= b < _BASE + i):
                raise ValueError(
                    f"invalid merge pair ({a},{b}) at rank {i} in {path}"
                )
        return cls(merges=merges)


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 256,
    max_words: int = 30_000,
) -> BPETokenizer:
    """Train ``num_merges`` byte-pair merges on a corpus.

    Deterministic end to end: the distributed piece count is truncated
    with a total order (count DESC, piece ASC) and the merge loop
    tie-breaks equal pair counts by pair id. Cost: one shuffle over
    distinct pieces (map-side combined), then a driver loop over at
    most ``max_words`` rows with an inverted pair->words index so each
    merge touches only the words containing it."""
    counts = (
        df.select(
            F.explode(
                F.regexp_extract_all(text_col, F.lit(SPARK_PIECE_PAT), F.lit(0))
            ).alias("piece")
        )
        .groupBy("piece")
        .count()
        .orderBy(F.desc("count"), F.asc("piece"))
        .limit(max_words)
        .collect()
    )
    words: List[List[int]] = [list(r["piece"].encode("utf-8")) for r in counts]
    freqs: List[int] = [int(r["count"]) for r in counts]

    import heapq

    pair_counts: Dict[Tuple[int, int], int] = {}
    pair_words: Dict[Tuple[int, int], set] = {}
    for wi, w in enumerate(words):
        for pair in zip(w, w[1:]):
            pair_counts[pair] = pair_counts.get(pair, 0) + freqs[wi]
            pair_words.setdefault(pair, set()).add(wi)

    # max-selection via a lazy-deletion heap: stale entries (count moved
    # since push) are popped and dropped; each selection is O(log n)
    # amortized instead of a full scan per merge. (-count, pair) keys
    # make ties resolve to the smallest pair — deterministic.
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: List[Tuple[int, int]] = []
    for step in range(num_merges):
        pair = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negc and -negc > 0:
                pair = p
                break
        if pair is None:
            break
        new_id = _BASE + step
        merges.append(pair)
        a, b = pair
        for wi in list(pair_words.get(pair, ())):
            w, f = words[wi], freqs[wi]
            merged, i = [], 0
            while i < len(w):
                if i + 1 < len(w) and w[i] == a and w[i + 1] == b:
                    merged.append(new_id)
                    i += 2
                else:
                    merged.append(w[i])
                    i += 1
            touched = set()
            for p in zip(w, w[1:]):
                pair_counts[p] -= f
                touched.add(p)
                s = pair_words.get(p)
                if s is not None:
                    s.discard(wi)
            for p in zip(merged, merged[1:]):
                pair_counts[p] = pair_counts.get(p, 0) + f
                touched.add(p)
                pair_words.setdefault(p, set()).add(wi)
            words[wi] = merged
            for p in touched:
                c = pair_counts.get(p, 0)
                if c > 0:
                    heapq.heappush(heap, (-c, p))
    return BPETokenizer(merges=tuple(merges))


def tokenize(
    df: DataFrame,
    tokenizer: BPETokenizer,
    text_col: str = "text",
    out_col: str = "tokens",
) -> DataFrame:
    """Append ``out_col: array<int>`` — the BPE encoding of
    ``text_col``. One Arrow kernel, no shuffle; merge ranks ship in the
    task closure (a few KB), pieces are memoized per executor.

    The kernel is ``mapInArrow`` + numpy, not per-piece Python: the only
    Python-level loop left is one dict probe + int append per piece
    occurrence (the Zipf memo); token assembly is a single vectorized
    multi-range gather over a growing (values, starts, lens) encode
    table, and the output column is built as an Arrow ListArray straight
    from the numpy stream — no pandas conversion in either direction.
    Unseen pieces pay the merge walk once per executor (``encode_piece``,
    the executable spec); Zipf makes that amortize to ~0."""
    merges = tokenizer.merges
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.ArrayType(T.IntegerType()))]
    )

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        tok = BPETokenizer(merges=merges)
        lookup: Dict[str, int] = {}  # piece -> row in the encode table
        starts_l: List[int] = []     # table row -> offset into values
        lens_l: List[int] = []       # table row -> id-sequence length
        chunks: List = []            # pending np.int32 id arrays
        vlen = 0

        for rb in batches:
            if len(lookup) > 1_000_000:  # runaway-vocab backstop
                lookup.clear(); starts_l.clear(); lens_l.clear()
                chunks.clear(); vlen = 0
            t_idx = rb.schema.get_field_index(text_col)
            texts = rb.column(t_idx).to_pylist()
            piece_lists = [
                _PY_PIECE.findall(t) if isinstance(t, str) else []
                for t in texts
            ]
            # one pass: memo probe per piece occurrence, table append on miss
            idx_l: List[int] = []
            app = idx_l.append
            get = lookup.get
            enc_piece = tok.encode_piece
            for ps in piece_lists:
                for p in ps:
                    i = get(p)
                    if i is None:
                        ids = enc_piece(p)
                        i = lookup[p] = len(lens_l)
                        starts_l.append(vlen)
                        lens_l.append(len(ids))
                        chunks.append(np.asarray(ids, dtype=np.int32))
                        vlen += len(ids)
                    app(i)
            if len(chunks) > 1:
                chunks[:] = [np.concatenate(chunks)]
            values = chunks[0] if chunks else np.empty(0, np.int32)
            idx = np.asarray(idx_l, dtype=np.int64)
            ln = np.asarray(lens_l, dtype=np.int64)[idx] if len(idx) else \
                np.empty(0, np.int64)
            total = int(ln.sum())
            if total:
                s = np.asarray(starts_l, dtype=np.int64)[idx]
                # vectorized concat(arange(s_i, s_i + ln_i)): unit steps
                # with a jump of s_i - (s_{i-1} + ln_{i-1} - 1) at each
                # segment boundary, then one cumsum
                ends = np.cumsum(ln)
                step = np.ones(total, dtype=np.int64)
                step[0] = s[0]
                if len(s) > 1:
                    step[ends[:-1]] = s[1:] - s[:-1] - ln[:-1] + 1
                stream = values[np.cumsum(step)]
                tok_ends = np.concatenate((np.zeros(1, np.int64), ends))
            else:
                stream = np.empty(0, np.int32)
                tok_ends = np.zeros(len(idx) + 1, np.int64)
            # doc boundaries: token end = cumulative tokens at the doc's
            # last piece (empty docs collapse to zero-length slices)
            pc = np.fromiter(
                (len(ps) for ps in piece_lists),
                dtype=np.int64, count=len(piece_lists),
            )
            doc_ends = tok_ends[np.cumsum(pc)]
            offsets = np.concatenate((np.zeros(1, np.int64), doc_ends))
            if total > np.iinfo(np.int32).max:
                # Arrow ListArray offsets are int32: one batch may carry
                # at most 2^31-1 tokens. Fail with the remedy named
                # instead of an opaque ArrowInvalid from the cast below.
                raise ValueError(
                    f"one Arrow batch holds {total} tokens, over the "
                    "int32 list-offset limit — lower spark.sql.execution."
                    "arrow.maxRecordsPerBatch (huge documents) so a "
                    "batch stays under 2^31 tokens"
                )
            arr = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()), pa.array(stream, pa.int32())
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in range(rb.num_columns)] + [arr],
                names=list(rb.schema.names) + [out_col],
            )

    return df.mapInArrow(kernel, out_schema)


def detokenize_col(tokens: Column, tokenizer: BPETokenizer) -> Column:
    """Pure-Catalyst decode: fold the id list over a literal id->bytes
    table and reinterpret the concatenated bytes as UTF-8. The cheap
    direction runs entirely in the executor JVM — no Python."""
    vocab = F.array(*[F.lit(b) for b in tokenizer.vocab_bytes])
    return F.aggregate(
        tokens,
        F.lit(b""),
        lambda acc, i: F.concat(acc, F.element_at(vocab, i + F.lit(1))),
    ).cast("string")


def tokenize_documents(
    docs: DataFrame,
    tokenizer: BPETokenizer,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Documents -> the pipeline's native input shape
    ``(doc_id, tokens array<int32>, n_tok int, source)`` (the
    pre-tokenized-sequence table plans/pipeline.py consumes)."""
    return tokenize(docs, tokenizer, text_col=text_col).select(
        id_col,
        F.col("tokens").cast(T.ArrayType(T.IntegerType())).alias("tokens"),
        F.size("tokens").cast("int").alias("n_tok"),
        source_col,
    )


def run_tokenize_ingest(
    spark,
    documents_path: str,
    state,
    out_path: str,
    vocab_path: str,
    tokenizer: BPETokenizer | None = None,
    num_merges: int = 256,
    pointer_col: str = "doc_id",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    connector_key: str = "tokenize_ingest",
    identity: str = "default",
):
    """The front door as a RESUMABLE INGEST: raw-documents table →
    trained BPE → the pipeline's native sequence shape, committed
    through the same manifest machinery as ``run_incremental``
    (plans/pipeline.py) — the same pruned watermark scan
    (sources/scans.incremental_scan, footer stats cached in the state
    dir), pending registration, writer-side footer stats INTO the commit.

    Exactly-once here is simpler than the routing pipeline's boundary
    protocol: the pointer column is a UNIQUE monotone ingest id, so the
    scan's STRICT ``>`` predicate needs no seen-hash anti-join.

    Vocabulary policy: train once, reuse forever. The first run trains
    on its batch and saves ``vocab_path`` (atomic); every later run
    loads it — token ids stay stable across the table's lifetime, which
    is the whole point of persisting the artifact. Pass ``tokenizer``
    to override. Returns {run_id, rows, pointer, tokenizer}.
    """
    import os

    from pyspark.sql import functions as F

    from grove_spark.operators.sinks import write_run
    from grove_spark.sources.scans import incremental_scan
    from grove_spark.state.runstate import reference

    key = reference(connector_key, identity)
    base_version = state.version()
    watermark = state.pointer(key)
    run_id = state.new_run_id()

    docs = incremental_scan(
        spark, documents_path, pointer_col, watermark, prune=True,
        stats_cache=os.path.join(state.root, "filestats"),
    )
    prune_metrics = getattr(docs, "_grove_prune", None)

    # persist once: on the training run the SAME source frame feeds
    # both train_bpe's piece count and the tokenize kernel (the shared-
    # subtree caching run_incremental applies to result.deduped)
    docs = docs.persist()
    if tokenizer is None:
        if os.path.exists(vocab_path):
            tokenizer = BPETokenizer.load(vocab_path)
        else:
            # empty-first-batch guard: training on 0 documents would
            # atomically persist a 0-merge vocabulary that every later
            # run loads FOREVER (train-once policy) — skip the tick
            # entirely and leave training to the first real batch
            if docs.isEmpty():
                docs.unpersist()
                state.commit(key, run_id, pointer=watermark,
                             metrics={"rows": 0},
                             expected_version=base_version)
                return {"run_id": run_id, "rows": 0,
                        "pointer": watermark, "tokenizer": None}
            tokenizer = train_bpe(docs, text_col=text_col,
                                  num_merges=num_merges)
            tokenizer.save(vocab_path)

    seq = tokenize_documents(
        docs, tokenizer, text_col=text_col, id_col=id_col,
        source_col=source_col,
    )
    if pointer_col not in seq.columns:
        seq = seq.join(docs.select(id_col, pointer_col), id_col)
    seq.persist()
    try:
        agg = seq.agg(
            F.count(F.lit(1)).alias("rows"),
            F.max(pointer_col).cast("string").alias("ptr"),
        ).first()
        rows, new_ptr = int(agg["rows"]), agg["ptr"]
        data_paths, out_stats = [], None
        if rows:
            data_paths, out_stats = write_run(
                state, f"{out_path}/part-{run_id}", seq.write.parquet,
                pointer_col,
            )
        metrics = {"rows": rows}
        if prune_metrics is not None:
            metrics["scan"] = prune_metrics
        state.commit(
            key, run_id,
            pointer=new_ptr if rows else watermark,
            metrics=metrics, data_paths=data_paths,
            expected_version=base_version, file_stats=out_stats,
        )
    finally:
        seq.unpersist()
        docs.unpersist()
    return {"run_id": run_id, "rows": rows,
            "pointer": new_ptr if rows else watermark,
            "tokenizer": tokenizer}
