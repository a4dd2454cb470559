"""Small physical-plan helpers."""

from __future__ import annotations

import hashlib
from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Partitions-per-core for Python compute stages: one extra wave of
#: tail-balancing headroom over perfectly-even 1×, without the
#: task-launch tax of finer splits — measured on a 32-slot host, a
#: 5k-row Python identity stage costs 0.97 s at 4×32 partitions vs
#: 0.37 s at 1×32 (each tiny task pays ~5 ms of scheduling + Arrow
#: round-trip setup, serialized through the driver). Callers that need
#: more partitions pass ``min_partitions``.
_SPREAD_FACTOR = 2


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ahead of a CPU-heavy Python stage.

    Single-row-group parquet files — common from single-writer tools —
    scan as ONE task no matter the split size; a compute stage inheriting
    that partitioning serializes on one core. The shuffle this inserts
    moves only the selected columns and is amortized by the Python work
    it parallelizes. We repartition unconditionally: probing the input's
    partition count would force a logical→RDD plan conversion per call,
    and a redundant round-robin exchange on an already-wide input is
    cheaper than that at scale (and often removed by AQE anyway).
    """
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    target = min_partitions or slots * _SPREAD_FACTOR
    return df.repartition(target)


# ---------------------------------------------------------------------------
# row kernels

#: Task-local memo bound for ``map_rows(memo=True)``: decode-style
#: kernels are pure functions of their arguments, so content-duplicated
#: corpora (re-uploads, mirrored assets, the synthesized
#: group-structured test tables) pay one call per DISTINCT argument
#: tuple per task instead of one per row. Binary arguments are keyed by
#: a 16-byte BLAKE2 digest — never the blob itself — so on all-unique
#: corpora the memo retains only digests + the small output tuples, not
#: up to 512 full media payloads per task. Past the cap we compute
#: without storing (one digest per row — ~µs against ms-scale decode).
_DECODE_MEMO_MAX = 512


def _blob_key(blob: bytes) -> bytes:
    return hashlib.blake2b(blob, digest_size=16).digest()


def map_rows(
    df: DataFrame,
    in_cols: Sequence[str],
    out_schema,
    fn: Callable[..., list],
    carry_cols: Sequence[str] = (),
    memo: bool = False,
) -> DataFrame:
    """One Arrow-batched Python stage: ``fn(*row[in_cols])`` returns a
    list of output tuples — zero, one or many per input row — holding
    the ``out_schema`` fields that are not carry columns, in schema
    order.

    ``carry_cols`` are copied from the input row onto every output row
    it yields. One that ``out_schema`` (StructType or DDL) names sits
    where the schema places it, cast JVM-side to the declared type (a
    no-op Catalyst drops when the types already agree); the others are
    appended after the schema's fields with their input types.

    ``memo=True``: ``fn`` runs once per distinct argument tuple per task
    (see ``_DECODE_MEMO_MAX``); keep ids out of ``in_cols`` (carry them)
    so duplicated content actually hits.

    The stage reads exactly ``in_cols`` + ``carry_cols``; callers that
    repartition first select those columns before the exchange."""
    if isinstance(out_schema, str):
        out_schema = T._parse_datatype_string(out_schema)
    carry_cols = list(dict.fromkeys(carry_cols))
    in_cols = list(in_cols)
    out_schema = T.StructType(
        out_schema.fields
        + [df.schema[c] for c in carry_cols if c not in out_schema.fieldNames()]
    )
    names = out_schema.fieldNames()
    fn_names = [n for n in names if n not in carry_cols]
    sel = [
        F.col(c).cast(out_schema[c].dataType).alias(c) if c in carry_cols else F.col(c)
        for c in dict.fromkeys(carry_cols + in_cols)
    ]

    def gen(batches):
        cache: dict = {}
        for pdf in batches:
            rows: list = []
            src: list = []
            for i, args in enumerate(zip(*(pdf[c].tolist() for c in in_cols))):
                if memo:
                    key = tuple(_blob_key(a) if isinstance(a, bytes) else a for a in args)
                    out = cache.get(key)
                    if out is None:
                        out = fn(*args)
                        if len(cache) < _DECODE_MEMO_MAX:
                            cache[key] = out
                else:
                    out = fn(*args)
                rows.extend(out)
                src.extend([i] * len(out))
            cols = dict(zip(fn_names, map(list, zip(*rows)))) if rows else {}
            for c in carry_cols:
                vals = pdf[c].tolist()
                cols[c] = [vals[i] for i in src]
            yield pd.DataFrame({n: cols.get(n, []) for n in names})

    return df.select(*sel).mapInPandas(gen, out_schema)


# ---------------------------------------------------------------------------
# persisted-frame registry
#
# Several pipelines (neardup text ops, LSH similarity join, cluster
# propagation) persist small intermediate frames because their returned
# plan references them repeatedly — but the returned DataFrame is lazy,
# so the producing function can't unpersist before the caller's action.
# Frames register here; long-lived callers that run many catalog queries
# in one session (bench, test harnesses) call release_candidate_cache()
# between queries so cached frames don't accumulate in executor storage.

_CANDIDATE_CACHE: list = []


def persist_candidates(df: DataFrame, npartitions: int | None = 8) -> DataFrame:
    """Persist a (small) frame and register it for bulk release.

    ``npartitions`` narrows the cached layout first (default 8): these
    frames are tiny but often produced by a spread-wide Python stage
    (~4× cores partitions), and every downstream plan reference scans
    ALL cached partitions — five references × 128 cached partitions is
    ~640 task launches of near-empty work. A repartition (never
    coalesce — that would narrow the producing stage itself) makes each
    reference ~8 tasks. Pass None to keep the input partitioning."""
    if npartitions:
        df = df.repartition(npartitions)
    df = df.persist()
    _CANDIDATE_CACHE.append(df)
    return df


def release_candidate_cache() -> None:
    """Unpersist every frame registered since the last call."""
    while _CANDIDATE_CACHE:
        try:
            _CANDIDATE_CACHE.pop().unpersist()
        except Exception:
            pass  # session already stopped
