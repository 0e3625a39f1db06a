"""Distributed sketch build: per-partition partials + associative merge.

This is the Spark re-expression of the reference's flagship path,
``PimBloomFilter::insert_bulk`` (``src/pim_bloom_filter.cpp:100-212``):

  reference                                  | here
  -------------------------------------------+--------------------------------
  host worker threads slice the input        | Spark partitions of the DataFrame
  hash dispatch item -> (rank, DPU)          | not needed: merge is assoc/comm,
    (``src/pim_bloom_filter.cpp:29-43``)     | any partitioning works
  2^11-item DPU buckets, async launches      | Arrow batches inside mapInArrow
  16 tasklet sub-filters + mutexes           | one numpy sketch per partition,
    (``src/dpu/bloom_filters_dpu.cpp:100``)  | single writer, no locks
  gather + deterministic-order serialize     | partials sorted by partition_id,
    (``src/pim_bloom_filter.cpp:379-396``)   | then OR/add/max-merged

Partial sketches are small (KB..MB); the default merge collects them and folds
on the driver (fine to ~1k partitions). ``distributed_merge=True`` switches to
an RDD ``treeReduce`` so the reduction itself is cluster-parallel — the path
you'd use at 10^12 rows with tens of thousands of partitions.

Per-partition lineage/metrics (rows, values, build_ms) ride along with every
partial — they feed the checkpoint table (see operators/checkpoint.py).
"""

from __future__ import annotations

import time
from typing import Callable, Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame

from ..sketches import Sketch, sketch_from_bytes
from ..sketches.bloom import popcount

PARTIAL_SCHEMA = (
    "partition_id int, sketch binary, n_rows long, n_values long, build_ms double"
)


def flatten_arrow(arr: "pa.Array | pa.ChunkedArray") -> np.ndarray:
    """Flatten an Arrow column (numeric scalars or list<int>/list<long>) to
    one contiguous int64 vector. List columns flatten zero-copy through the
    Arrow offsets — no per-row Python objects (a pandas object-array flatten
    is a Python loop over rows and dominated token-array build time)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        arr = arr.flatten()  # null rows contribute nothing
    if arr.null_count:
        # null ELEMENTS would otherwise coerce the numpy array to float+NaN
        arr = arr.drop_null()
    np_vals = arr.to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(np_vals, dtype=np.int64)


def build_partials(df: DataFrame, col: str, make: Callable[[], Sketch]) -> DataFrame:
    """One sketch partial per input partition: DataFrame[PARTIAL_SCHEMA].

    ``make`` must be a picklable zero-arg factory (e.g.
    ``functools.partial(make_sketch, "bloom", size2=24, nb_hash=8)``).
    Runs as mapInArrow: values flow JVM->numpy with no pandas materialization.
    """

    def _partials(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.RecordBatch]:
        t0 = time.perf_counter()
        sk = make()
        n_rows = 0
        n_values = 0
        for b in batches:
            values = flatten_arrow(b.column(0))
            sk.insert_bulk(values)
            n_rows += b.num_rows
            n_values += int(values.size)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid], type=pa.int32()),
                pa.array([sk.to_bytes()], type=pa.binary()),
                pa.array([n_rows], type=pa.int64()),
                pa.array([n_values], type=pa.int64()),
                pa.array([(time.perf_counter() - t0) * 1000.0], type=pa.float64()),
            ],
            names=["partition_id", "sketch", "n_rows", "n_values", "build_ms"],
        )

    return df.select(col).mapInArrow(_partials, schema=PARTIAL_SCHEMA)


def collect_rows(df: DataFrame) -> list:
    """Collect small-row DataFrames (sketch partials / shard bitmaps) through
    the ARROW path instead of py4j row pickling. A dense bloom/counting
    partial is MBs of binary per row; ``DataFrame.collect()`` moves those
    bytes through per-row JVM->Python pickling, which measured ~2-5x slower
    than the Arrow stream at 64 x 2 MiB partials (guide §6: Arrow for driver
    transfers). Returns dict-like rows (plain dicts), which is all the merge
    folds access. Runs exactly one job: a failed job raises its own error
    and is not re-run."""
    if not hasattr(df, "toArrow"):  # pragma: no cover — pyspark < 4.0
        return df.collect()
    return df.toArrow().to_pylist()


def merge_partial_rows(rows) -> tuple[Sketch, dict]:
    """Driver-side fold of collected partial rows (deterministic order:
    sorted by partition_id, mirroring the reference's sequential gather at
    ``src/pim_bloom_filter.cpp:388-394``). Returns (sketch, metrics)."""
    rows = sorted(rows, key=lambda r: r["partition_id"])
    if not rows:
        raise ValueError("no partials to merge (empty input DataFrame?)")
    sk = sketch_from_bytes(rows[0]["sketch"])
    for r in rows[1:]:
        sk.merge(sketch_from_bytes(r["sketch"]))
    metrics = {
        "n_partitions": len(rows),
        "n_rows": int(sum(r["n_rows"] for r in rows)),
        "n_values": int(sum(r["n_values"] for r in rows)),
        "build_ms_max": float(max(r["build_ms"] for r in rows)),
        "build_ms_sum": float(sum(r["build_ms"] for r in rows)),
    }
    return sk, metrics


def build_sketch_grouped(df: DataFrame, group_cols, col: str,
                         make: Callable[[], Sketch]) -> DataFrame:
    """One sketch PER GROUP in one pass: DataFrame[*group_cols, sketch
    binary, n_rows long, n_values long].

    The reference is strictly one-filter-per-call; every real use ("distinct
    users per event_type", "a filter per source") needs N sketches from ONE
    job, not a driver loop launching jobs per group. Shape = map-side
    combine: each task builds a partial per (partition, group) — so the
    shuffle moves only small sketch blobs, never raw rows — and a relational
    groupBy merges the partials per group. Works for any registered sketch
    kind (merge is associative+commutative); group count is unbounded
    (output is a DataFrame, nothing driver-side)."""
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    dtypes = dict(df.dtypes)
    gschema = ", ".join(f"{c} {dtypes[c]}" for c in group_cols)
    out_schema = f"{gschema}, sketch binary, n_rows long, n_values long"
    partial_schema = out_schema + ", _pid int"
    n_gcols = len(group_cols)

    def _partials(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.RecordBatch]:
        # vectorized batch grouping (the checkpoint.py bucket pattern):
        # dictionary-encode each group column, mix the codes into one int64
        # key per row, argsort once, slice the Arrow value column per run —
        # no pandas object rows, values flow zero-copy through flatten_arrow
        import pyarrow.compute as pc

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        sketches: dict = {}
        stats: dict = {}
        fields = None
        for b in batches:
            if fields is None:
                fields = [b.schema.field(i).type for i in range(n_gcols)]
            gcols = [b.column(i) for i in range(n_gcols)]
            data = b.column(n_gcols)
            codes = np.zeros(b.num_rows, dtype=np.int64)
            for c in gcols:
                d = pc.dictionary_encode(c)
                idx = pc.fill_null(d.indices, -1).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                codes = codes * (len(d.dictionary) + 1) + (idx + 1)
            order = np.argsort(codes, kind="stable")
            sc = codes[order]
            bounds = np.r_[0, np.flatnonzero(np.diff(sc)) + 1, len(sc)]
            arr = data.take(pa.array(order))
            for i in range(len(bounds) - 1):
                lo, hi = int(bounds[i]), int(bounds[i + 1])
                row0 = int(order[lo])
                key = tuple(c[row0].as_py() for c in gcols)
                v = flatten_arrow(arr.slice(lo, hi - lo))
                sk = sketches.get(key)
                if sk is None:
                    sk = sketches[key] = make()
                    stats[key] = [0, 0]
                sk.insert_bulk(v)
                stats[key][0] += hi - lo
                stats[key][1] += int(v.size)
        if sketches:
            ks = list(sketches)
            yield pa.RecordBatch.from_arrays(
                [
                    *(pa.array([k[j] for k in ks], type=fields[j])
                      for j in range(n_gcols)),
                    pa.array([sketches[k].to_bytes() for k in ks],
                             type=pa.binary()),
                    pa.array([stats[k][0] for k in ks], type=pa.int64()),
                    pa.array([stats[k][1] for k in ks], type=pa.int64()),
                    pa.array([pid] * len(ks), type=pa.int32()),
                ],
                names=[*group_cols, "sketch", "n_rows", "n_values", "_pid"],
            )

    partials = df.select(*group_cols, col).mapInArrow(_partials, partial_schema)

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_pid")  # deterministic merge order
        sk = sketch_from_bytes(bytes(pdf["sketch"].iloc[0]))
        for blob in pdf["sketch"].iloc[1:]:
            sk.merge(sketch_from_bytes(bytes(blob)))
        res = pdf.iloc[[0]][list(group_cols)].copy()
        res["sketch"] = [sk.to_bytes()]
        res["n_rows"] = pdf["n_rows"].sum()
        res["n_values"] = pdf["n_values"].sum()
        return res

    return partials.groupBy(*group_cols).applyInPandas(_merge, out_schema)


def weight_distributed(partials_or_shards: DataFrame,
                       sketch_col: str = "sketch") -> int:
    """Popcount as a distributed partial+final SUM — the exact shape of the
    reference's get_weight (each DPU popcounts its sub-filter, tasklet-0
    reduces, host sums per rank: ``src/dpu/bloom_filters_dpu.cpp:146-166``,
    ``src/pim_rankset.cpp:276-290``). Valid on DISJOINT partials (sharded
    build rows); on overlapping partials the per-partial popcounts
    over-count shared bits — merge first in that case. One job of one
    stage: the per-partition totals are collected and summed on the
    driver."""

    def _pop(batches):
        total = 0
        for b in batches:
            for blob in b.column(0):
                raw = blob.as_py()
                cut = len(raw) & ~7  # whole words; the tail bytes by int
                total += popcount(np.frombuffer(raw, np.uint64, cut // 8))
                total += int.from_bytes(raw[cut:], "little").bit_count()
        yield pa.RecordBatch.from_arrays(
            [pa.array([total], type=pa.int64())], names=["w"]
        )

    rows = collect_rows(
        partials_or_shards.select(sketch_col).mapInArrow(_pop, "w long"))
    return sum(r["w"] for r in rows)


def build_sketch(
    df: DataFrame,
    col: str,
    make: Callable[[], Sketch],
    distributed_merge: bool = False,
    tree_depth: int = 2,
) -> tuple[Sketch, dict]:
    """Build one logical sketch over ``df[col]`` (scalar numeric or array<int>).

    distributed_merge=False: collect partials (small blobs) + driver fold.
    distributed_merge=True: RDD treeReduce — merge work stays on executors;
    use when partition count is large enough that a driver fold is the
    bottleneck (the 10^12-row configuration).
    """
    partials = build_partials(df, col, make)
    if not distributed_merge:
        return merge_partial_rows(collect_rows(partials))

    def _merge_bytes(a: bytes, b: bytes) -> bytes:
        sa = sketch_from_bytes(a)
        sa.merge(sketch_from_bytes(b))
        return sa.to_bytes()

    blob = (
        partials.select("sketch").rdd.map(lambda r: bytes(r[0]))
        .treeReduce(_merge_bytes, depth=tree_depth)
    )
    stats = partials.groupBy().sum("n_rows", "n_values").collect()[0]
    return sketch_from_bytes(blob), {
        "n_rows": int(stats[0]), "n_values": int(stats[1]),
    }
