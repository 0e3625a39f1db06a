"""Sharded (disjoint-bit-range) build/probe must agree exactly with the
broadcast path — same filter bytes, same probe answers."""

import functools

import numpy as np
import pytest
from pyspark.sql import functions as F

from pimbloomfilters_spark.operators import build_sketch, probe_key_column
from pimbloomfilters_spark.operators.sharded import (
    assemble_bloom,
    build_bloom_shards,
    build_bloom_sharded,
    probe_bloom_distributed,
)
from pimbloomfilters_spark.sketches import make_sketch
from pimbloomfilters_spark.sketches.bloom import (
    bloom_positions,
    contains_slots_numpy,
    scatter_or_bits,
)

CFG = dict(size2=20, nb_hash=8)


@pytest.fixture(scope="module")
def keys_df(spark):
    df = spark.range(0, 50_000, numPartitions=8).cache()
    df.count()
    return df


@pytest.mark.parametrize("n_shards,n_partitions", [
    (16, None), (1, None), (2, 1), (2, 3), (16, 5), (64, None), (64, 7)])
def test_sharded_equals_plain_build(spark, keys_df, n_shards, n_partitions):
    plain, _ = build_sketch(
        keys_df, "id", functools.partial(make_sketch, "bloom", **CFG)
    )
    sharded = build_bloom_sharded(keys_df, "id", n_shards=n_shards,
                                  n_partitions=n_partitions, **CFG)
    assert sharded.payload() == plain.payload()
    # and both equal the numpy oracle, reached directly
    want = np.zeros((1 << CFG["size2"]) // 64, dtype=np.uint64)
    scatter_or_bits(want, bloom_positions(
        np.arange(50_000, dtype=np.int64), CFG["size2"], CFG["nb_hash"], 42,
        4096))
    assert sharded._words.tobytes() == want.tobytes()


def test_sharded_array_column(spark):
    from pimbloomfilters_spark.sources import generate_token_sequences

    toks = generate_token_sequences(spark, 500, num_partitions=4).cache()
    plain, _ = build_sketch(
        toks, "tokens", functools.partial(make_sketch, "bloom", **CFG)
    )
    sharded = build_bloom_sharded(toks, "tokens", n_shards=16, **CFG)
    assert sharded.payload() == plain.payload()


def test_distributed_probe_matches_broadcast(spark, keys_df):
    shards = build_bloom_shards(keys_df, "id", n_shards=16, **CFG).cache()
    bf = assemble_bloom(shards.collect(), n_shards=16, **CFG)
    probes = spark.range(0, 60_000, numPartitions=4)  # 50k positives + 10k unknown
    dist = probe_bloom_distributed(probes, shards, "id", n_shards=16, **CFG)
    bcast = probe_key_column(probes, bf, "id")
    d = {r["id"]: r["member"] for r in dist.collect()}
    b = {r["id"]: r["member"] for r in bcast.collect()}
    assert d == b
    ids = np.arange(60_000, dtype=np.int64)
    oracle = contains_slots_numpy(bf._words.reshape(1, -1),
                                  np.zeros(1, np.int32), ids, CFG["size2"],
                                  CFG["nb_hash"], 42, 4096)
    assert [d[i] for i in range(60_000)] == oracle.tolist()
    assert all(d[i] for i in range(0, 50_000, 997))  # no FN spot-check


def test_shard_validation():
    import pyspark.sql  # noqa: F401

    from pimbloomfilters_spark.operators.sharded import build_bloom_shards

    class FakeDF:  # only validation runs before df is touched
        pass

    with pytest.raises(ValueError):
        build_bloom_shards(FakeDF(), "x", size2=20, nb_hash=4, n_shards=48)
    with pytest.raises(ValueError):
        # 2^14 bits / 4096 block = 4 blocks < 16 shards
        build_bloom_shards(FakeDF(), "x", size2=14, nb_hash=4, n_shards=16)


def test_weight_distributed_matches_merged(spark, keys_df):
    """Partial+final popcount over disjoint shards == merged get_weight
    (reference get_weight lifecycle, SURVEY.md §3.3). Envelope bytes include
    a header, so weight_distributed must consume shard PAYLOADS; shard rows
    carry raw sub-bitmap bytes — exactly what it expects."""
    from pimbloomfilters_spark.operators.build import weight_distributed

    shards = build_bloom_shards(keys_df, "id", n_shards=16, **CFG)
    bf = assemble_bloom(shards.collect(), n_shards=16, **CFG)
    assert weight_distributed(shards) == bf.get_weight()


def test_fpr_block_variant_ordering(spark):
    """Block-size variants (the reference's CPU 64-bit-block 'cache' filter
    vs the DPU 512-byte-block filter) at equal (m,k,n): smaller blocks
    concentrate the k bits more, so the 64-bit variant's measured FPR must
    be >= the 4096-bit variant's, and each must sit within its own
    theoretical bound (our bound is block-size-aware)."""
    import numpy as np

    from pimbloomfilters_spark.sketches import BlockedBloomFilter

    n = 100_000
    keys = np.arange(n, dtype=np.int64)
    neg = np.arange(10_000_000, 10_200_000, dtype=np.int64)
    fprs = {}
    for bb in (64, 4096):
        bf = BlockedBloomFilter(size2=21, nb_hash=8, block_bits=bb)
        bf.insert_bulk(keys)
        fprs[bb] = bf.contains_bulk(neg).mean()
        assert fprs[bb] <= 3 * bf.theoretical_fpr_bound(n) + 1e-4, (bb, fprs[bb])
    # smaller blocks => heavier blocked penalty at equal m,k,n
    assert fprs[64] >= fprs[4096]


def test_probe_array_distributed_equals_broadcast(spark, sf_dir):
    """Element-aligned array probe against sharded bitmaps == the broadcast
    array probe, row for row, element for element."""
    from pimbloomfilters_spark.operators.probe import probe_array_column
    from pimbloomfilters_spark.operators.sharded import (
        assemble_bloom,
        build_bloom_shards,
        probe_array_distributed,
    )
    from pimbloomfilters_spark.sources.tables import token_table

    tt = token_table(spark, sf_dir).limit(300).cache()
    geom = dict(size2=22, nb_hash=8)
    shards = build_bloom_shards(tt, "tokens", n_shards=16, **geom).cache()
    bf = assemble_bloom(shards.collect(), n_shards=16, **geom)
    dist = {
        r["doc_id"]: r["member"]
        for r in probe_array_distributed(
            tt, shards, "doc_id", "tokens", n_shards=16, **geom).collect()
    }
    bc = {
        r["doc_id"]: r["member"]
        for r in probe_array_column(tt, bf, "tokens").collect()
    }
    assert dist == bc and len(dist) == 300
    assert all(all(m) for m in dist.values()), "no false negatives"


def test_probe_array_distributed_empty_and_null_rows(spark):
    """Empty-array and null-array rows must survive with member = [] —
    matching the broadcast twin (posexplode alone would drop them)."""
    from pimbloomfilters_spark.operators.probe import probe_array_column
    from pimbloomfilters_spark.operators.sharded import (
        assemble_bloom,
        build_bloom_shards,
        probe_array_distributed,
    )

    df = spark.createDataFrame(
        [(1, [10, 20, 30]), (2, []), (3, None), (4, [999_999])],
        "doc_id long, tokens array<long>",
    )
    geom = dict(size2=20, nb_hash=8)
    src = df.filter("doc_id = 1")  # only doc 1's tokens are inserted
    shards = build_bloom_shards(src, "tokens", n_shards=16, **geom).cache()
    bf = assemble_bloom(shards.collect(), n_shards=16, **geom)
    dist = {r["doc_id"]: r["member"]
            for r in probe_array_distributed(
                df, shards, "doc_id", "tokens", n_shards=16, **geom).collect()}
    bc = {r["doc_id"]: r["member"]
          for r in probe_array_column(df, bf, "tokens").collect()}
    assert set(dist) == {1, 2, 3, 4}
    assert dist[1] == [True, True, True]
    assert dist[2] == [] and dist[3] == []
    assert dist == bc
