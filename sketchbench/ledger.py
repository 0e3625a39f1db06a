"""Per-layer measurements of the traced run.

Every measurement calls one module's public functions from outside, on the
running workload's own data (``LedgerInputs``), inside a span named after
the module. Kernel rates are single-process numpy on the driver; Spark
layers run at the session's parallelism. Names match ``per_layer`` in
BENCHMARK.json.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from workloads import GATES, NB_HASH, factories, shard_count

KERNEL_VALUES = 1_000_000  # cap on the driver-side sample the kernels run on


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def numpy_ceiling_mkeys_s() -> float:
    """Single-process numpy bloom insert math (positions + scatter) on a
    fixed 500k-key batch: the box's speed at this moment, as context."""
    from pimbloomfilters_spark.sketches.bloom import bloom_positions, scatter_or_bits

    vals = np.arange(500_000, dtype=np.int64)
    words = np.zeros((1 << 24) // 64, dtype=np.uint64)
    t = _median_time(lambda: scatter_or_bits(
        words, bloom_positions(vals, 24, NB_HASH, 42, 4096)), reps=5)
    return vals.size / t / 1e6


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _shuffle_write_bytes(spark) -> int:
    """Shuffle bytes written so far by all executors, from Spark's status
    store, once the listener bus has delivered every finished task."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(False)
    return int(sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size())))


def kernels(li, tracer) -> dict[str, float]:
    from pimbloomfilters_spark.hashing import double_hashes
    from pimbloomfilters_spark.sketches import sketch_from_bytes
    from pimbloomfilters_spark.sketches.bloom import bloom_positions, scatter_or_bits

    v = np.ascontiguousarray(li.values[:KERNEL_VALUES], dtype=np.int64)
    mv = v.size / 1e6
    out: dict[str, float] = {}
    fac = factories(li.size2)
    with tracer.span("hashing.double_hashes"):
        out["hashing.double_hashes_mkeys_s"] = mv / _median_time(lambda: double_hashes(v))
    with tracer.span("sketches.bloom.positions"):
        out["sketches.bloom.positions_mkeys_s"] = mv / _median_time(
            lambda: bloom_positions(v, li.size2, NB_HASH, 42, 4096))
    pos = bloom_positions(v, li.size2, NB_HASH, 42, 4096)
    words = np.zeros((1 << li.size2) // 64, dtype=np.uint64)
    with tracer.span("sketches.bloom.scatter"):
        out["sketches.bloom.scatter_mkeys_s"] = mv / _median_time(
            lambda: scatter_or_bits(words, pos))
    del pos, words
    built = {}
    for kind in ("bloom", "hll", "cms", "kll"):
        def insert(kind=kind):
            built[kind] = fac[kind]()
            built[kind].insert_bulk(v)
        with tracer.span(f"sketches.{kind}.insert_bulk"):
            rate = mv / _median_time(insert)
        out[f"sketches.{kind}.insert_bulk_mvals_s" if kind != "bloom"
            else "sketches.bloom.insert_bulk_mkeys_s"] = rate
    bf = built["bloom"]
    with tracer.span("sketches.bloom.contains_bulk"):
        out["sketches.bloom.contains_bulk_mkeys_s"] = mv / _median_time(
            lambda: bf.contains_bulk(v))
    with tracer.span("sketches.bloom.get_weight"):
        out["sketches.bloom.get_weight_s"] = _median_time(bf.get_weight, reps=5)
    for kind, sk in built.items():
        raw = sk.to_bytes()
        with tracer.span(f"sketches.base.to_bytes.{kind}"):
            out[f"sketches.base.to_bytes_ms.{kind}"] = 1e3 * _median_time(sk.to_bytes, reps=5)
        with tracer.span(f"sketches.base.from_bytes.{kind}"):
            out[f"sketches.base.from_bytes_ms.{kind}"] = 1e3 * _median_time(
                lambda: sketch_from_bytes(raw), reps=5)
    return out


def spark_layers(spark, li, tracer) -> dict[str, float]:
    import pyarrow as pa
    from pyspark.sql import functions as F

    from pimbloomfilters_spark.operators import (
        build_partials, build_sketch_grouped, merge_partial_rows, probe_array_column)
    from pimbloomfilters_spark.operators.build import collect_rows, flatten_arrow
    from pimbloomfilters_spark.operators.probe import probe_count, ship_sketch
    from pimbloomfilters_spark.operators.sharded import assemble_bloom, build_bloom_shards

    out: dict[str, float] = {}
    fac = factories(li.size2)
    col = li.build.select(li.build_col)
    dtype = col.schema[0].dataType.simpleString()

    def _identity(batches):
        yield from batches

    def _flatten_count(batches):
        n = 0
        for b in batches:
            n += flatten_arrow(b.column(0)).size
        yield pa.RecordBatch.from_arrays([pa.array([n], type=pa.int64())], names=["n"])

    with tracer.span("spark.arrow_noop"):
        out["spark.arrow_noop_s"], _ = _timed(lambda: _noop_write(
            col.mapInArrow(_identity, f"{li.build_col} {dtype}")))
    with tracer.span("operators.build.flatten_arrow"):
        out["operators.build.flatten_floor_s"], _ = _timed(
            lambda: col.mapInArrow(_flatten_count, "n long").agg(F.sum("n")).collect())

    for kind in ("bloom", "hll", "cms"):
        with tracer.span("operators.build.build_partials"):
            out[f"operators.build.partials_s.{kind}"], _ = _timed(
                lambda: _noop_write(build_partials(li.build, li.build_col, fac[kind])))
        with tracer.span("operators.build.collect_rows"):
            out[f"operators.build.collect_s.{kind}"], rows = _timed(
                lambda: collect_rows(build_partials(li.build, li.build_col, fac[kind])))
        with tracer.span("operators.build.merge_partial_rows"):
            out[f"operators.build.merge_s.{kind}"], _ = _timed(
                lambda: merge_partial_rows(rows))
        out[f"operators.build.n_partials.{kind}"] = len(rows)
        out[f"sketches.base.partial_bytes.{kind}"] = float(
            np.mean([len(r["sketch"]) for r in rows]))

    for kind, vcol in (("hll", "arr"), ("kll", "num")):
        with tracer.span("operators.build.build_sketch_grouped"):
            out[f"operators.build.grouped_s.{kind}"], rows = _timed(
                lambda: build_sketch_grouped(li.arrays, ["grp"], vcol, fac[kind]).collect())
        if kind == "kll":
            out["sketches.base.partial_bytes.kll"] = float(
                np.mean([len(r["sketch"]) for r in rows]))

    n_shards = shard_count(li.size2, spark.sparkContext.defaultParallelism)
    with tracer.span("operators.sharded.build_bloom_shards"):
        before = _shuffle_write_bytes(spark)
        out["operators.sharded.shards_s"], _ = _timed(lambda: _noop_write(
            build_bloom_shards(li.build, li.build_col, li.size2, NB_HASH, n_shards=n_shards)))
        out["operators.sharded.exchange_bytes"] = _shuffle_write_bytes(spark) - before
    with tracer.span("operators.sharded.collect_rows"):
        out["operators.sharded.collect_s"], shard_rows = _timed(lambda: collect_rows(
            build_bloom_shards(li.build, li.build_col, li.size2, NB_HASH, n_shards=n_shards)))
    out["operators.sharded.shard_bytes"] = sum(len(r["sketch"]) for r in shard_rows)
    with tracer.span("operators.sharded.assemble_bloom"):
        out["operators.sharded.assemble_s"], bf = _timed(
            lambda: assemble_bloom(shard_rows, li.size2, NB_HASH, n_shards=n_shards))

    # a filter no earlier call has shipped: one extra key changes its bytes,
    # so ship_sketch's content-addressed cache cannot short-cut it
    bf.insert(np.int64(-1))
    with tracer.span("operators.probe.ship_sketch"):
        out["operators.probe.ship_s"], _ = _timed(lambda: ship_sketch(spark, bf))
    out["operators.probe.ship_bytes"] = len(bf.to_bytes())
    with tracer.span("operators.probe.probe_count"):
        out["operators.probe.first_probe_s"], _ = _timed(lambda: probe_count(li.probe, bf, "v"))
    with tracer.span("operators.probe.probe_count"):
        out["operators.probe.probe_count_s"], _ = _timed(lambda: probe_count(li.probe, bf, "v"))
    with tracer.span("operators.probe.probe_array_column"):
        out["operators.probe.array_probe_s"], _ = _timed(
            lambda: probe_array_column(li.arrays, bf, "arr")
            .agg(F.sum(F.size("member"))).collect())
    return out


def gate_oracles(sf_dir: str) -> dict[str, tuple]:
    """Each gate's DuckDB oracle answer, canonicalized like the gate's."""
    import duckdb

    from pimbloomfilters_spark.plans import CATALOG
    from tools.check_oracles import canon

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        return {g: canon(con.sql(CATALOG[g].oracle).df()) for g in GATES}
    finally:
        con.close()


def sources_and_plans(spark, tracer, sf_dir: str, seed: int,
                      oracles: dict[str, tuple]) -> tuple[dict[str, float], list[str]]:
    """Input layers and the catalog gates, once each. Each gate's answer is
    compared with its oracle; the returned list holds one message per wrong
    answer. ``fn_s`` is the driver-side eager work inside the gate's
    function, before the action."""
    from pimbloomfilters_spark.plans import CATALOG
    from pimbloomfilters_spark.sources import generate_token_sequences
    from pimbloomfilters_spark.sources.tables import tokens_exploded, unpersist_tokens
    from tools.check_oracles import canon

    out: dict[str, float] = {}
    problems: list[str] = []
    with tracer.span("sources.synthetic.generate_token_sequences"):
        out["sources.synthetic.generate_s"], _ = _timed(lambda: _noop_write(
            generate_token_sequences(spark, 20_000, start_id=seed * 20_000)))
    with tracer.span("sources.tables.tokens_exploded"):
        out["sources.tables.token_table_s"], _ = _timed(
            lambda: tokens_exploded(spark, sf_dir).count())
    for g in GATES:
        t0 = time.perf_counter()
        with tracer.span(f"plans.{g}"):
            df = CATALOG[g].fn(spark, sf_dir)
            out[f"plans.{g}.fn_s"] = time.perf_counter() - t0
            pdf = df.toPandas()
        out[f"plans.{g}_s"] = time.perf_counter() - t0
        got = canon(pdf)
        if got != oracles[g]:
            problems.append(f"{g}: rows/cols/hash {got} != oracle {oracles[g]}")
    unpersist_tokens(spark, sf_dir)
    return out, problems
