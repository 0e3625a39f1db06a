"""The benchmark's workloads.

Each workload materializes its inputs during set-up, computes the exact
answers its checks compare against (outside the set-up time), and defines
one closed-loop cycle: a list of operations the single driver thread runs one
after another. An operation is timed alone; its check runs after the clock
stops, and a wrong answer or an exception counts it as failed.

Each cycle's Bloom build also takes one sentinel key of its own, so each
cycle builds a filter no earlier cycle built. probe.ship_sketch caches by
content, so without it every timed probe would reuse the warm-up cycle's
shipped filter and skip the shipping and the worker-side load.

The program only ever receives the generated DataFrames: the seed moves the
generated id range, never a parameter of the library call.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

# Sizes per profile. "full" is what the benchmark measures; "smoke" is the
# tiny profile its own test runs.
SIZES = {
    "full": {
        "keys_bloom": {"n_keys": 3_000_000, "n_neg": 300_000, "size2": 27},
        "token_sketches": {"n_rows": 30_000, "size2": 24},
    },
    "smoke": {
        "keys_bloom": {"n_keys": 100_000, "n_neg": 10_000, "size2": 27},
        "token_sketches": {"n_rows": 2_000, "size2": 24},
    },
}
# The catalog gates run on fixed test data, a copy of the `documents` table
# in data/<sf>; the seed cannot vary it.
CATALOG_SF = {"full": "sf0.1", "smoke": "sf0.001"}

NB_HASH = 8
HLL_P = 14
CMS_EPS, CMS_DELTA = 1e-4, 1e-3
KLL_K = 200
KLL_QS = (0.01, 0.25, 0.5, 0.75, 0.99)

# Catalog gates the traced run times and checks against their DuckDB
# oracles. Light gates are short jobs where fixed per-job cost dominates;
# checkpoint_resume is the only caller of operators/checkpoint.py. All five
# read only the `documents` table.
GATES = ("checkpoint_resume", "bloom_probe_tokens", "hll_distinct_tokens",
         "cms_heavy_hitters", "kll_ntok_quantiles")


@dataclass
class Op:
    """One timed operation. ``run(state)`` does the work and returns its
    result; ``check(result, state)`` returns None when the answer is right,
    else a message. Later ops of a cycle read earlier results from state;
    ``state["cycle"]`` is the cycle's number within the run."""
    name: str
    span: str
    run: Callable[[dict], Any]
    check: Callable[[Any, dict], str | None]


@dataclass
class LedgerInputs:
    """What the traced run measures each layer on: the workload's own data.
    ``build`` feeds every build path, ``probe`` has one long column ``v``,
    ``arrays`` has ``arr`` (array), ``grp`` (string) and ``num`` (long)."""
    values: np.ndarray
    build: Any
    build_col: str
    probe: Any
    arrays: Any
    size2: int


@dataclass
class Workload:
    seed: int
    size: dict
    expected: dict = field(default_factory=dict)
    properties: dict = field(default_factory=dict)

    name = ""

    def __post_init__(self):
        pass

    def materialize(self, spark) -> None:
        raise NotImplementedError

    def release(self) -> None:
        raise NotImplementedError

    def prepare_expected(self) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def end_to_end(self, med: dict[str, float]) -> dict[str, float]:
        """write/read throughput in M values/s from the median op times,
        plus the workload's own metrics for the report line."""
        raise NotImplementedError

    def ledger_inputs(self) -> LedgerInputs:
        raise NotImplementedError


# -- checks ------------------------------------------------------------------

def poisson_upper(lam: float, tail: float = 1e-6) -> int:
    """Smallest c with P(Poisson(lam) > c) < tail: the most false positives a
    filter whose true FPR equals its bound can show on a finite negative set."""
    c, p = 0, math.exp(-lam)
    cdf = p
    while 1.0 - cdf >= tail:
        c += 1
        p *= lam / c
        cdf += p
    return c


def fpr_problem(n_fp: int, n_neg: int, bound: float) -> str | None:
    allowed = poisson_upper(n_neg * bound)
    if n_fp > allowed:
        return (f"FPR {n_fp}/{n_neg} above the theoretical bound {bound:.3g} "
                f"(at most {allowed} false positives expected)")
    return None


def hll_problem(est: float, exact: int, p: int = HLL_P) -> str | None:
    bound = 4 * 1.04 / math.sqrt(1 << p)
    rel = abs(est - exact) / max(exact, 1)
    if rel > bound:
        return f"HLL estimate {est:.1f} vs exact {exact}: error {rel:.4f} > {bound:.4f}"
    return None


def kll_problem(sk, sorted_vals: np.ndarray, k: int = KLL_K) -> str | None:
    """Rank error of each estimated quantile against the exact data. Ties
    make a value's true rank an interval; the error is the distance from q
    to that interval."""
    n = sorted_vals.size
    bound = 2.861 / k
    for q in KLL_QS:
        est = sk.quantile(q)
        lo = np.searchsorted(sorted_vals, est, side="left") / n
        hi = np.searchsorted(sorted_vals, est, side="right") / n
        err = max(0.0, lo - q, q - hi)
        if err > bound:
            return f"KLL q={q}: estimate {est} has rank error {err:.4f} > {bound:.4f}"
    return None


def factories(size2: int) -> dict[str, Callable]:
    """Picklable zero-argument sketch factories at the benchmark's geometry."""
    from pimbloomfilters_spark.sketches import make_sketch

    return {
        "bloom": functools.partial(make_sketch, "bloom", size2=size2, nb_hash=NB_HASH),
        "hll": functools.partial(make_sketch, "hll", p=HLL_P),
        "cms": functools.partial(make_sketch, "cms", eps=CMS_EPS, delta=CMS_DELTA),
        "kll": functools.partial(make_sketch, "kll", k=KLL_K),
    }


def shard_count(size2: int, cpus: int) -> int:
    """Shards of the sharded build: they are reduce tasks, so a few per core,
    a power of two, at most one per 4096-bit block."""
    return min(1 << (size2 - 12), max(16, 1 << (cpus.bit_length() + 1)))


def _persist(df):
    from pyspark.storagelevel import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


# -- keys_bloom ----------------------------------------------------------------

class KeysBloom(Workload):
    """The reference benchmark flow: sharded build over distinct sequential
    keys, get_weight, lookup of the same keys in shuffled order, then FPR on
    disjoint negatives. At size2=27 the filter is 16 MiB, 8x a 2 MiB L2."""

    name = "keys_bloom"

    def __post_init__(self):
        self.n = self.size["n_keys"]
        self.n_neg = self.size["n_neg"]
        self.size2 = self.size["size2"]
        # the seed shifts the key range; keys stay distinct and sequential
        self.base = self.seed << 32

    def materialize(self, spark) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        cpus = spark.sparkContext.defaultParallelism
        self.keys = _persist(spark.range(self.base, self.base + self.n,
                                         numPartitions=cpus * 2))
        self.keys.count()
        # a permutation of the keys: 2654435761 is prime, so coprime to n
        self.shuffled = self.keys.select(
            ((F.col("id") - self.base) * 2654435761 % self.n + self.base).alias("id"))
        self.negatives = _persist(spark.range(
            self.base + self.n, self.base + self.n + self.n_neg,
            numPartitions=cpus))
        self.negatives.count()

    def release(self) -> None:
        self.keys.unpersist()
        self.negatives.unpersist()

    def sentinel(self, cycle: int) -> int:
        """The cycle's extra key, below the key range."""
        return self.base - 1 - cycle

    def prepare_expected(self) -> None:
        from pimbloomfilters_spark.sketches import BlockedBloomFilter

        ref = BlockedBloomFilter(size2=self.size2, nb_hash=NB_HASH)
        ref.insert_bulk(np.arange(self.base, self.base + self.n, dtype=np.int64))
        # the keys without the cycle's sentinel; the checks add it
        self.expected = {"bytes": ref.to_bytes(), "members": self.n,
                         "fpr_bound": ref.theoretical_fpr_bound(self.n + 1)}
        self.properties = {
            "probed_distinct_share": 1.0,
            "filter_bytes": (1 << self.size2) // 8,
            "n_keys": self.n, "n_negatives": self.n_neg,
        }

    def ops(self) -> list[Op]:
        from pimbloomfilters_spark.operators.probe import probe_count
        from pimbloomfilters_spark.operators.sharded import build_bloom_sharded
        from pimbloomfilters_spark.sketches import sketch_from_bytes

        ex = self.expected
        cpus = self.spark.sparkContext.defaultParallelism

        def build(st):
            s = self.sentinel(st["cycle"])
            keys = self.keys.union(self.spark.range(s, s + 1))
            st["bf"] = build_bloom_sharded(keys, "id", size2=self.size2,
                                           nb_hash=NB_HASH,
                                           n_shards=shard_count(self.size2, cpus))
            return st["bf"]

        def check_build(bf, st):
            want = sketch_from_bytes(ex["bytes"])
            want.insert_bulk(np.array([self.sentinel(st["cycle"])], dtype=np.int64))
            st["weight"] = want.get_weight()
            if bf.to_bytes() != want.to_bytes():
                return "sharded filter differs from the single-process reference build"
            return None

        def check_weight(w, st):
            return None if w == st["weight"] else f"weight {w} != {st['weight']}"

        def check_lookup(r, st):
            n, hits = r
            want = ex["members"]
            if n != want or hits != want:
                return f"lookup probed {n}, {hits} members; expected {want} of {want}"
            return None

        def check_neg(r, st):
            n, fp = r
            if n != self.n_neg:
                return f"probed {n} negatives, expected {self.n_neg}"
            return fpr_problem(fp, n, ex["fpr_bound"])

        return [
            Op("insert", "operators.sharded.build_bloom_sharded", build, check_build),
            Op("weight", "sketches.bloom.get_weight",
               lambda st: st["bf"].get_weight(), check_weight),
            Op("lookup", "operators.probe.probe_count",
               lambda st: probe_count(self.shuffled, st["bf"], "id"), check_lookup),
            Op("negatives", "operators.probe.probe_count",
               lambda st: probe_count(self.negatives, st["bf"], "id"), check_neg),
        ]

    def end_to_end(self, med):
        return {"write_mvals_s": self.n / med["insert"] / 1e6,
                "read_mvals_s": (self.n + self.n_neg) / (med["lookup"] + med["negatives"]) / 1e6,
                "lookup_mkeys_s": self.n / med["lookup"] / 1e6}

    def ledger_inputs(self) -> LedgerInputs:
        from pyspark.sql import functions as F

        return LedgerInputs(
            values=np.arange(self.base, self.base + self.n, dtype=np.int64),
            build=self.keys, build_col="id",
            probe=self.keys.select(F.col("id").alias("v")),
            arrays=self.keys.select(F.array("id").alias("arr"),
                                    F.pmod("id", F.lit(8)).cast("string").alias("grp"),
                                    F.col("id").alias("num")),
            size2=self.size2)


# -- token_sketches --------------------------------------------------------------

class TokenSketches(Workload):
    """The north-rule payload: zipf-skewed token arrays. Builds bloom, HLL and
    CMS over the tokens through the per-partition partial path, grouped HLL
    and KLL builds per source, and an element-aligned array probe."""

    name = "token_sketches"

    def __post_init__(self):
        self.rows = self.size["n_rows"]
        self.size2 = self.size["size2"]
        self.start = self.seed * self.rows  # the seed shifts the row-id range

    def materialize(self, spark) -> None:
        from pyspark.sql import functions as F

        from pimbloomfilters_spark.sources import generate_token_sequences

        self.spark = spark
        cpus = spark.sparkContext.defaultParallelism
        self.toks = _persist(generate_token_sequences(
            spark, self.rows, num_partitions=cpus * 2, start_id=self.start))
        self.n_tokens = int(self.toks.agg(F.sum("n_tok")).collect()[0][0])

    def release(self) -> None:
        self.toks.unpersist()

    @staticmethod
    def sentinel(cycle: int) -> int:
        """The cycle's extra token for the Bloom build: token ids are >= 0."""
        return -1 - cycle

    def prepare_expected(self) -> None:
        import pyarrow.compute as pc

        from pimbloomfilters_spark.sources.synthetic import VOCAB

        tbl = self.toks.select("tokens", "n_tok", "source").toArrow()
        flat = np.asarray(pc.list_flatten(tbl.column("tokens").combine_chunks())
                          .to_numpy(zero_copy_only=False), dtype=np.int64)
        n_tok = np.asarray(tbl.column("n_tok").to_numpy(), dtype=np.int64)
        source = np.asarray(tbl.column("source").to_numpy(zero_copy_only=False))
        row_of = np.repeat(np.arange(n_tok.size), n_tok)
        distinct, counts = np.unique(flat, return_counts=True)
        top = np.argsort(-counts, kind="stable")[:10]
        per_source = {}
        for s in np.unique(source):
            rows = source == s
            per_source[str(s)] = {
                "distinct": int(np.unique(flat[rows[row_of]]).size),
                "n_tok_sorted": np.sort(n_tok[rows]),
            }
        self.expected = {
            "n_tokens": int(flat.size), "distinct": distinct,
            "top_ids": distinct[top], "top_counts": counts[top],
            "per_source": per_source,
            "negatives": np.arange(VOCAB + 1, VOCAB + 1 + 100_000, dtype=np.int64),
        }
        self.flat = flat
        self.properties = {
            "probed_distinct_share": distinct.size / max(flat.size, 1),
            "filter_bytes": (1 << self.size2) // 8,
            "n_rows": self.rows, "n_tokens": int(flat.size),
            "mean_tokens_per_row": float(flat.size / max(self.rows, 1)),
        }
        if self.n_tokens != flat.size:
            raise RuntimeError(f"token table reports {self.n_tokens} tokens, "
                               f"its arrays hold {flat.size}")

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        from pimbloomfilters_spark.operators import (
            build_sketch, build_sketch_grouped, probe_array_column)
        from pimbloomfilters_spark.sketches import sketch_from_bytes

        ex = self.expected
        fac = factories(self.size2)
        n_tokens = ex["n_tokens"]

        def build(kind):
            def run(st):
                df = self.toks
                if kind == "bloom":
                    df = df.select("tokens").union(self.spark.range(1).select(
                        F.array(F.lit(self.sentinel(st["cycle"]))).alias("tokens")))
                sk, m = build_sketch(df, "tokens", fac[kind])
                st[kind] = sk
                return sk, m
            return run

        def counted(m, n=n_tokens):
            if m["n_values"] != n:
                return f"built over {m['n_values']} values, expected {n}"
            return None

        def check_bloom(r, st):
            bf, m = r
            members = np.append(ex["distinct"], self.sentinel(st["cycle"]))
            if not bool(bf.contains_bulk(members).all()):
                return "false negatives in the token bloom filter"
            neg = ex["negatives"]
            fp = int(bf.contains_bulk(neg).sum())
            return counted(m, n_tokens + 1) or fpr_problem(
                fp, neg.size, bf.theoretical_fpr_bound(members.size))

        def check_hll(r, st):
            sk, m = r
            return counted(m) or hll_problem(sk.estimate(), ex["distinct"].size)

        def check_cms(r, st):
            sk, m = r
            over = sk.query_bulk(ex["top_ids"]) - ex["top_counts"]
            if over.min() < 0 or over.max() > CMS_EPS * n_tokens:
                return (f"CMS overestimate range [{over.min()}, {over.max()}] "
                        f"outside [0, {CMS_EPS * n_tokens:.1f}]")
            return counted(m)

        def grouped(kind, col):
            return lambda st: build_sketch_grouped(
                self.toks, ["source"], col, fac[kind]).collect()

        def per_source(rows, fn):
            if sorted(r["source"] for r in rows) != sorted(ex["per_source"]):
                return "grouped build returned the wrong set of sources"
            for r in rows:
                p = fn(sketch_from_bytes(bytes(r["sketch"])), ex["per_source"][r["source"]])
                if p:
                    return f"source {r['source']}: {p}"
            return None

        def check_grouped_hll(rows, st):
            return per_source(rows, lambda sk, e: hll_problem(sk.estimate(), e["distinct"]))

        def check_grouped_kll(rows, st):
            return per_source(rows, lambda sk, e: kll_problem(sk, e["n_tok_sorted"]))

        def array_probe(st):
            probed = probe_array_column(self.toks, st["bloom"], "tokens")
            row = probed.agg(
                F.sum(F.size(F.filter("member", lambda m: ~m))).alias("misses"),
                F.sum(F.size("member")).alias("n")).collect()[0]
            return int(row["misses"] or 0), int(row["n"] or 0)

        def check_array(r, st):
            misses, n = r
            if misses or n != n_tokens:
                return f"array probe: {misses} non-members among {n} of {n_tokens} tokens"
            return None

        return [
            Op("build_bloom", "operators.build.build_sketch", build("bloom"), check_bloom),
            Op("build_hll", "operators.build.build_sketch", build("hll"), check_hll),
            Op("build_cms", "operators.build.build_sketch", build("cms"), check_cms),
            Op("grouped_hll", "operators.build.build_sketch_grouped",
               grouped("hll", "tokens"), check_grouped_hll),
            Op("grouped_kll", "operators.build.build_sketch_grouped",
               grouped("kll", "n_tok"), check_grouped_kll),
            Op("array_probe", "operators.probe.probe_array_column",
               array_probe, check_array),
        ]

    def end_to_end(self, med):
        n = self.expected["n_tokens"]
        build = med["build_bloom"] + med["build_hll"] + med["build_cms"]
        return {"write_mvals_s": 3 * n / build / 1e6,
                "read_mvals_s": n / med["array_probe"] / 1e6,
                "grouped_build_s": med["grouped_hll"] + med["grouped_kll"]}

    def ledger_inputs(self) -> LedgerInputs:
        from pyspark.sql import functions as F

        return LedgerInputs(
            values=self.flat, build=self.toks, build_col="tokens",
            probe=self.toks.select(F.explode("tokens").alias("t"))
            .select(F.col("t").cast("long").alias("v")),
            arrays=self.toks.select(F.col("tokens").alias("arr"),
                                    F.col("source").alias("grp"),
                                    F.col("n_tok").cast("long").alias("num")),
            size2=self.size2)


WORKLOADS = {w.name: w for w in (KeysBloom, TokenSketches)}
