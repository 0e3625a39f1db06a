"""Sharded Bloom build/probe: each partition owns a disjoint bit-range.

This is the faithful Spark re-expression of the reference's dispatch model:
``HashPimItemDispatcher`` routes every item by the high/low 32 bits of its
hash to the one (rank, DPU) whose sub-filter covers it
(``src/pim_bloom_filter.cpp:29-43``), so no two DPUs ever write the same bits
and "merging" is just gathering sub-filters in order
(``src/pim_bloom_filter.cpp:379-396``).

Here: shard id = top ``log2(n_shards)`` bits of xxhash64(key) — computed with
the *JVM-side* ``F.shiftrightunsigned(F.xxhash64(col), 64-s)``, which agrees
bit-for-bit with the numpy hash used inside the UDF (tests/test_hashing.py).
Because block index also comes from h1's top bits, every 4096-bit block falls
entirely inside one shard: partitions build disjoint sub-bitmaps and the
global filter is their concatenation.

Why it matters at scale: a non-sharded build moves P x (m/8) bytes of partial
bitmaps through the merge; the sharded build moves exactly m/8 in total,
regardless of partition count. For m=2^33 on 1000 executors that is 1 GiB
instead of 1 TiB of shuffle.

The probe side can stay broadcast (small m) or go *distributed*: probes are
repartitioned by the same shard expression and cogrouped with the shard
bitmaps (``cogroup.applyInPandas``), so each task reads only the slice of the
filter it needs — the filter is never materialized on one machine.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..sketches import BlockedBloomFilter
from ..sketches.bloom import (
    BLOCK_BITS, contains_slots, insert_slots, shard_counts, slot_words)
from .build import flatten_arrow

SHARD_SCHEMA = "shard int, sketch binary, n_values long"


def _shard_expr(col: str, shard_bits: int):
    # top shard_bits of xxhash64(col); logical shift keeps it unsigned
    return F.shiftrightunsigned(F.xxhash64(F.col(col)), 64 - shard_bits)


def _check_routable_seed(seed: int) -> None:
    """JVM-side shard routing uses F.xxhash64, whose seed is fixed at Spark's
    default (42). bloom_positions derives the block (hence shard) from
    xxh64(key, seed) — with any other seed, probes would be cogrouped with
    the WRONG shard bitmap (wrong membership / index underflow). Fail fast."""
    from ..hashing import DEFAULT_SEED

    if seed != DEFAULT_SEED:
        raise ValueError(
            f"sharded build/probe requires seed={DEFAULT_SEED} (Spark's fixed "
            f"xxhash64 seed, used for JVM-side shard routing); got {seed}. "
            "Use the non-sharded build_sketch path for custom seeds."
        )


def build_bloom_shards(
    df: DataFrame,
    col: str,
    size2: int,
    nb_hash: int,
    seed: int = 42,
    block_bits: int = BLOCK_BITS,
    n_shards: int = 64,
    n_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[shard int, sketch binary, n_values long]: one disjoint
    bit-range sub-filter per shard. Requires n_shards <= m/block_bits so shard
    boundaries are block-aligned.

    ``n_partitions`` decouples the exchange width from the shard count:
    partitioning is a pure hash of the shard id, so every shard still has
    exactly ONE writer task whatever the partition count — a task simply
    owns several disjoint sub-filters (the reference's rank owning several
    DPUs). Default = the session's default parallelism (capped at
    n_shards): measured 2x faster than one-task-per-shard at 10M keys /
    local[32], because tiny reduce tasks are pure scheduling + Python
    worker-batch overhead (guide §2.2: fewer, larger reduce partitions).
    Per-task memory is bounded by (n_shards / n_partitions) x shard bytes
    = m/8/n_partitions — raise n_partitions for very large m."""
    _check_routable_seed(seed)
    m_bits = 1 << size2
    if n_shards & (n_shards - 1):
        raise ValueError("n_shards must be a power of two")
    if m_bits // min(block_bits, m_bits) < n_shards:
        raise ValueError("n_shards must be <= number of blocks (m/block_bits)")
    if n_partitions is None:
        n_partitions = max(1, min(
            n_shards, df.sparkSession.sparkContext.defaultParallelism))
    shard_bits = int(math.log2(n_shards))

    is_array = str(df.schema[col].dataType).lower().startswith("array")

    def _build(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.RecordBatch]:
        # one words row per shard this task owns, found as keys arrive
        slot_of = np.full(n_shards, -1, dtype=np.int32)
        words = np.zeros((0, slot_words(size2, n_shards)), dtype=np.uint64)
        counts = np.zeros(n_shards, dtype=np.int64)
        for b in batches:
            values = flatten_arrow(b.column(0))
            if values.size == 0:
                continue
            batch_counts = shard_counts(values, seed, n_shards)
            new = np.flatnonzero((batch_counts > 0) & (slot_of < 0))
            if new.size:
                slot_of[new] = np.arange(len(words), len(words) + new.size)
                words = np.concatenate([words, np.zeros(
                    (new.size, words.shape[1]), dtype=np.uint64)])
            counts += batch_counts
            insert_slots(words, slot_of, values, size2, nb_hash, seed,
                         block_bits)
        owned = np.flatnonzero(slot_of >= 0)
        if owned.size:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(owned, type=pa.int32()),
                    pa.array([words[slot_of[s]].tobytes() for s in owned],
                             type=pa.binary()),
                    pa.array(counts[owned], type=pa.int64()),
                ],
                names=["shard", "sketch", "n_values"],
            )

    if is_array:
        # route by array element: explode JVM-side, then shard on the element
        # (cast to long first — JVM xxhash64 of int32 hashes 4 bytes and would
        # mis-route vs the numpy 8-byte hash; build correctness is unaffected
        # since shards are recomputed from numpy positions, but mis-routing
        # costs locality: one partition emitting many shard bitmaps)
        src = df.select(F.explode(F.col(col)).alias("_e")).select(
            F.col("_e").cast("long").alias(col))
    else:
        src = df.select(F.col(col).cast("long").alias(col))
    # repartition by the shard EXPRESSION (not a materialized column): the
    # exchange then carries ONLY the 8-byte key — half the shuffle bytes of
    # the old (key, shard) row (guide §2.3: project before the exchange)
    parts = src.repartition(n_partitions, _shard_expr(col, shard_bits))
    return parts.mapInArrow(_build, schema=SHARD_SCHEMA)


def assemble_bloom(shards_rows, size2: int, nb_hash: int, seed: int = 42,
                   block_bits: int = BLOCK_BITS, n_shards: int = 64
                   ) -> BlockedBloomFilter:
    """Concatenate collected shard rows into the full filter (deterministic
    order by shard id — the reference's sequential gather)."""
    bf = BlockedBloomFilter(size2=size2, nb_hash=nb_hash, seed=seed,
                            block_bits=min(block_bits, 1 << size2))
    shard_words = bf.m_bits // n_shards // 64
    for r in shards_rows:
        w = np.frombuffer(r["sketch"], dtype=np.uint64)
        s = int(r["shard"])
        bf._words[s * shard_words:(s + 1) * shard_words] |= w
    return bf


def build_bloom_sharded(df: DataFrame, col: str, size2: int, nb_hash: int,
                        seed: int = 42, block_bits: int = BLOCK_BITS,
                        n_shards: int = 64,
                        n_partitions: int | None = None) -> BlockedBloomFilter:
    from .build import collect_rows

    rows = collect_rows(build_bloom_shards(
        df, col, size2, nb_hash, seed, block_bits, n_shards, n_partitions))
    return assemble_bloom(rows, size2, nb_hash, seed, block_bits, n_shards)


def probe_bloom_distributed(
    probes: DataFrame,
    shards: DataFrame,
    key_col: str,
    size2: int,
    nb_hash: int,
    seed: int = 42,
    block_bits: int = BLOCK_BITS,
    n_shards: int = 64,
    out_col: str = "member",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Probe WITHOUT materializing the filter anywhere: cogroup probe keys
    with the one shard bitmap that covers them. The filter can be arbitrarily
    large — each task touches m/n_shards bits. Missing shard bitmap (no
    inserts landed there) => definitely-absent => member=false.
    ``passthrough`` columns of ``probes`` ride along unchanged (row-aligned),
    e.g. (doc_id, pos) when probing exploded token arrays."""
    _check_routable_seed(seed)
    shard_bits = int(math.log2(n_shards))
    passthrough = tuple(passthrough)

    # cast to long BEFORE hashing: JVM xxhash64 of an INT column hashes 4
    # bytes, numpy's xxh64_u64 hashes the 8-byte value — an int32 key column
    # would otherwise route to the wrong shard
    keyed = probes.select(
        F.col(key_col).cast("long").alias(key_col), *passthrough
    ).withColumn("_shard", _shard_expr(key_col, shard_bits).cast("int"))

    def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left[[key_col, *passthrough]].copy()
        if left.empty:
            out[out_col] = np.zeros(0, bool)
            return out
        vals = left[key_col].to_numpy(dtype=np.int64)
        if right.empty:
            out[out_col] = np.zeros(len(vals), bool)
            return out
        words = np.frombuffer(right["sketch"].iloc[0], dtype=np.uint64)
        if len(right) > 1:  # defensive: OR duplicate shard rows
            words = words.copy()
            for blob in right["sketch"].iloc[1:]:
                words |= np.frombuffer(blob, dtype=np.uint64)
        slot_of = np.full(n_shards, -1, dtype=np.int32)
        slot_of[int(right["shard"].iloc[0])] = 0
        out[out_col] = contains_slots(words.reshape(1, -1), slot_of, vals,
                                      size2, nb_hash, seed, block_bits)
        return out

    dtypes = dict(probes.dtypes)
    extra = "".join(f", {c} {dtypes[c]}" for c in passthrough)
    out_schema = f"{key_col} long{extra}, {out_col} boolean"
    return (
        keyed.groupBy("_shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(_probe, schema=out_schema)
    )


def probe_array_distributed(
    df: DataFrame,
    shards: DataFrame,
    id_col: str,
    tokens_col: str,
    size2: int,
    nb_hash: int,
    seed: int = 42,
    block_bits: int = BLOCK_BITS,
    n_shards: int = 64,
    out_col: str = "member",
) -> DataFrame:
    """array<boolean> membership, ELEMENT-ALIGNED with the token array (the
    reference's bulk-probe contract), against a sharded filter that is never
    materialized on one node: posexplode -> cogroup probe (positions ride
    through as passthrough columns) -> regroup per row ordered by position.
    This is the array-column twin of ``probe_bloom_distributed`` — the shape
    for probing token sequences against a multi-GB filter.

    Rows whose token array is empty or null survive with ``member = []``
    (matching the broadcast twin ``probe_array_column``): posexplode emits no
    rows for them, so the probed results are left-joined back to the full id
    set and the gap filled with an empty array."""
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.col(tokens_col)).alias("_pos", "_tok"),
    )
    probed = probe_bloom_distributed(
        ex, shards, "_tok", size2, nb_hash, seed, block_bits, n_shards,
        out_col=out_col, passthrough=(id_col, "_pos"),
    )
    regrouped = (
        probed.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("_pos", out_col))).alias("_s"))
        .select(
            id_col,
            F.transform(F.col("_s"), lambda x: x[out_col]).alias(out_col),
        )
    )
    return (
        df.select(id_col).join(regrouped, id_col, "left")
        .withColumn(out_col, F.coalesce(
            F.col(out_col), F.expr("CAST(array() AS array<boolean>)")))
    )
