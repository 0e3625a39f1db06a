"""The fused native Bloom kernel against its numpy oracle: byte-identical
words, identical answers, a logged numpy fallback where no compiler exists,
refusal of unsafe cached libraries, and no write outside the caller's
buffer. The numpy side is always reached by calling its functions
directly."""

import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pimbloomfilters_spark.sketches import BlockedBloomFilter
from pimbloomfilters_spark.sketches import _native
from pimbloomfilters_spark.sketches.bloom import (
    bloom_positions,
    contains_slots,
    contains_slots_numpy,
    insert_slots,
    insert_slots_numpy,
    popcount,
    popcount_numpy,
    scatter_or_bits,
    shard_counts,
    shard_counts_numpy,
    slot_words,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
I64 = np.iinfo(np.int64)
SEEDS = [0, 42, 2**63 - 5, 2**63 + 7]

needs_native = pytest.mark.skipif(
    _native.kernel() is None, reason="native Bloom kernel unavailable here")

keys_st = st.lists(
    st.one_of(st.integers(I64.min, I64.max),
              st.sampled_from([0, -1, 1, I64.min, I64.max])),
    max_size=300,
).map(lambda ks: np.array(ks + ks[: len(ks) // 3], dtype=np.int64))


def _oracle_words(keys, size2, k, seed, block_bits):
    words = np.zeros(max(1, (1 << size2) // 64), dtype=np.uint64)
    scatter_or_bits(words, bloom_positions(keys, size2, k, seed, block_bits))
    return words


@needs_native
@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(keys=keys_st, size2=st.sampled_from([3, 6, 12, 13, 24, 27]),
       k=st.integers(1, 9), seed=st.sampled_from(SEEDS),
       variant=st.sampled_from([("blocked", 64), ("blocked", 512),
                                ("blocked", 4096), ("unblocked", 4096)]))
def test_insert_bulk_byte_identical_to_numpy(keys, size2, k, seed, variant):
    kind, block_bits = variant
    bf = BlockedBloomFilter(size2, k, seed=seed, block_bits=block_bits,
                            blocked=kind == "blocked")
    bf.insert_bulk(keys)
    assert bf._words.tobytes() == _oracle_words(
        keys, size2, k, seed, bf.block_bits).tobytes()
    probes = np.concatenate([keys, keys + 1])
    want = contains_slots_numpy(bf._words.reshape(1, -1),
                                np.zeros(1, np.int32), probes, size2, k,
                                seed, bf.block_bits)
    got = bf.contains_bulk(probes)
    assert got.dtype == bool and np.array_equal(got, want)
    assert got[: keys.size].all()  # no false negatives


@needs_native
@pytest.mark.parametrize("n_shards", [1, 2, 16, 64])
@pytest.mark.parametrize("seed", [42, 2**63 - 5])
def test_slot_layout_matches_plain_filter(n_shards, seed):
    """Shards written through a permuted shard->slot table, native and numpy,
    reassemble to the plain filter byte for byte."""
    size2, k = 20, 8
    rng = np.random.default_rng(n_shards)
    keys = rng.integers(I64.min, I64.max, 20_000, dtype=np.int64)
    slot_of = rng.permutation(n_shards).astype(np.int32)
    sw = slot_words(size2, n_shards)
    native = np.zeros((n_shards, sw), dtype=np.uint64)
    numpy_ = np.zeros_like(native)
    insert_slots(native, slot_of, keys, size2, k, seed, 4096)
    insert_slots_numpy(numpy_, slot_of, keys, size2, k, seed, 4096)
    assert native.tobytes() == numpy_.tobytes()
    assembled = native[slot_of].reshape(-1)
    assert assembled.tobytes() == _oracle_words(keys, size2, k, seed,
                                                4096).tobytes()
    probes = np.concatenate([keys, rng.integers(I64.min, I64.max, 20_000)])
    assert np.array_equal(
        contains_slots(native, slot_of, probes, size2, k, seed, 4096),
        contains_slots_numpy(numpy_, slot_of, probes, size2, k, seed, 4096))
    assert np.array_equal(shard_counts(keys, seed, n_shards),
                          shard_counts_numpy(keys, seed, n_shards))
    assert shard_counts(keys, seed, n_shards).sum() == keys.size


@needs_native
def test_popcount_matches_unpackbits():
    """pbf_popcount against np.unpackbits on all-zero, all-ones, random and
    odd-length word arrays, and popcount_numpy on the same words."""
    lib = _native.kernel()
    rng = np.random.default_rng(7)
    cases = [np.zeros(1024, np.uint64), np.full(1024, ~np.uint64(0)),
             np.zeros(0, np.uint64)]
    cases += [rng.integers(0, 2**64, n, dtype=np.uint64)
              for n in (1, 3, 7, 1001, 1 << 16)]
    for words in cases:
        want = int(np.unpackbits(words.view(np.uint8)).sum())
        assert lib.pbf_popcount(words, words.size) == want
        assert popcount(words) == popcount_numpy(words) == want


@pytest.mark.parametrize("insert", [insert_slots, insert_slots_numpy])
def test_unrouted_keys_raise_and_stay_inside_buffer(insert):
    """A key whose shard has no slot is an error, and nothing lands outside
    the rows handed to the kernel (the guard rows around them stay zero)."""
    size2, n_shards = 16, 4
    sw = slot_words(size2, n_shards)
    guarded = np.zeros((3, sw), dtype=np.uint64)
    rows = guarded[1:2]  # C-contiguous view of the middle row
    slot_of = np.full(n_shards, -1, dtype=np.int32)
    slot_of[2] = 0
    keys = np.arange(1000, dtype=np.int64)
    with pytest.raises(ValueError, match="no slot"):
        insert(rows, slot_of, keys, size2, 4, 42, 4096)
    assert not guarded[0].any() and not guarded[2].any()
    with pytest.raises(ValueError, match="no slot"):
        contains_slots(rows, slot_of, keys, size2, 4, 42, 4096)


def test_buffer_geometry_is_checked():
    keys = np.arange(10, dtype=np.int64)
    slot_of = np.zeros(4, dtype=np.int32)
    with pytest.raises(ValueError, match="does not fit"):  # row too short
        insert_slots(np.zeros((1, 7), np.uint64), slot_of, keys, 16, 4, 42, 4096)
    with pytest.raises(ValueError, match="does not fit"):  # slot past rows
        insert_slots(np.zeros((1, 256), np.uint64), np.array(
            [0, 1, 0, 0], np.int32), keys, 16, 4, 42, 4096)
    with pytest.raises(ValueError, match="C-contiguous"):
        insert_slots(np.zeros((256, 2), np.uint64).T, slot_of, keys, 16, 4,
                     42, 4096)
    with pytest.raises(ValueError, match="power-of-two"):
        insert_slots(np.zeros((1, 256), np.uint64), np.zeros(3, np.int32),
                     keys, 16, 4, 42, 4096)


# -- loader: fallback, logging and cache safety (fresh processes) -------------

_PROBE_SCRIPT = textwrap.dedent("""
    import hashlib, json, logging
    import numpy as np
    records = []
    class Keep(logging.Handler):
        def emit(self, r):
            records.append([r.levelname, r.getMessage()])
    log = logging.getLogger("pimbloomfilters_spark")
    log.addHandler(Keep()); log.setLevel(logging.INFO)
    from pimbloomfilters_spark.sketches import BlockedBloomFilter, _native
    from pimbloomfilters_spark.sketches.bloom import (
        bloom_positions, scatter_or_bits)
    keys = np.arange(-5000, 5000, dtype=np.int64) * 7919
    bf = BlockedBloomFilter(18, 7)
    bf.insert_bulk(keys)
    bf.insert_bulk(keys[:10])
    want = np.zeros(bf._words.size, np.uint64)
    scatter_or_bits(want, bloom_positions(keys, 18, 7, 42, 4096))
    probes = np.arange(-50000, 50000, dtype=np.int64)
    hits = bf.contains_bulk(probes)
    sparse = BlockedBloomFilter(18, 7)
    sparse.insert_bulk(keys[:500])
    print(json.dumps({
        "kernel": _native.kernel_name(),
        "identical": bf._words.tobytes() == want.tobytes(),
        "no_fn": bool(hits[np.isin(probes, keys)].all()),
        "answers": hashlib.sha256(hits.tobytes()).hexdigest(),
        "weights": [f.get_weight() for f in (bf, sparse)],
        "unpacked": [int(np.unpackbits(f._words.view(np.uint8)).sum())
                     for f in (bf, sparse)],
        "wire": [hashlib.sha256(f.to_bytes()).hexdigest()
                 for f in (bf, sparse)],
        "forms": [f.payload()[:1] == b"S" for f in (bf, sparse)],
        "records": records}))
""")


def _run_probe(cache_home, path_env=None):
    env = dict(os.environ, XDG_CACHE_HOME=str(cache_home), PYTHONPATH=REPO)
    if path_env is not None:
        env["PATH"] = path_env
    done = subprocess.run([sys.executable, "-c", _PROBE_SCRIPT], env=env,
                          capture_output=True, text=True, timeout=300,
                          cwd=str(cache_home))
    assert done.returncode == 0, done.stderr
    return json.loads(done.stdout.strip().splitlines()[-1])


def _levels(out, level):
    return [m for lv, m in out["records"] if lv == level]


def test_no_compiler_falls_back_to_numpy_once(tmp_path):
    empty_bin = tmp_path / "bin"
    empty_bin.mkdir()
    out = _run_probe(tmp_path, path_env=str(empty_bin))
    assert out["kernel"] == "numpy"
    assert out["identical"] and out["no_fn"]
    assert out["weights"] == out["unpacked"]
    assert out["forms"] == [False, True]  # one dense, one sparse filter
    warnings = _levels(out, "WARNING")
    assert len(warnings) == 1 and "no C compiler" in warnings[0], warnings
    assert _levels(out, "INFO") == ["bloom kernel: numpy"]


@needs_native
def test_native_process_logs_kernel_once(tmp_path):
    out = _run_probe(tmp_path)
    assert out["kernel"] == "native"
    assert out["identical"] and out["no_fn"]
    assert not _levels(out, "WARNING")
    infos = _levels(out, "INFO")
    assert len(infos) == 1 and infos[0].startswith("bloom kernel: native")
    # answers agree with a numpy-only process on the same keys
    empty_bin = tmp_path / "bin"
    empty_bin.mkdir()
    numpy_out = _run_probe(tmp_path, path_env=str(empty_bin))
    assert numpy_out["kernel"] == "numpy"
    assert numpy_out["answers"] == out["answers"]
    # popcount and both wire forms agree byte for byte
    assert out["weights"] == out["unpacked"] == numpy_out["weights"]
    assert out["forms"] == [False, True]
    assert numpy_out["wire"] == out["wire"]


@needs_native
def test_unsafe_cached_library_is_refused(tmp_path):
    out = _run_probe(tmp_path)  # compiles and publishes into tmp_path
    assert out["kernel"] == "native"
    lib_dir = tmp_path / "pimbloomfilters_spark"
    assert (lib_dir.stat().st_mode & 0o777) == 0o700
    (lib,) = [p for p in lib_dir.iterdir() if p.suffix == ".so"]

    lib.chmod(0o666)
    out = _run_probe(tmp_path)
    assert out["kernel"] == "numpy" and out["identical"]
    (warning,) = _levels(out, "WARNING")
    assert "refusing" in warning and "world-writable" in warning

    lib.chmod(0o755)
    if os.getuid() == 0:
        os.chown(lib, 65534, 65534)
        out = _run_probe(tmp_path)
        assert out["kernel"] == "numpy"
        (warning,) = _levels(out, "WARNING")
        assert "refusing" in warning and "owned by uid 65534" in warning
        os.chown(lib, os.getuid(), os.getgid())

    # the same file with safe ownership and mode loads again
    assert _run_probe(tmp_path)["kernel"] == "native"

