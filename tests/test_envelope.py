"""Corrupt or foreign bytes fail loudly in sketch_from_bytes: a ValueError
that names the sketch kind (when the envelope carries one) and the reason,
never a struct/Key/IndexError and never a silently wrong sketch."""

import struct

import numpy as np
import pytest

from pimbloomfilters_spark.sketches import SKETCH_KINDS, make_sketch, sketch_from_bytes

# geometry small enough that every kind serializes its dense form well past
# the 64-byte cut
CFG = {
    "bloom": dict(size2=12, nb_hash=4),
    "countingbloom": dict(size2=10, nb_hash=4),
    "hll": dict(p=8),
    "cms": dict(width=64, depth=3),
    "countsketch": dict(width=64, depth=3),
    "kll": dict(k=16),
    "tdigest": dict(delta=20),
    "mg": dict(k=32),
    "theta": dict(k=64),
}


def _blob(kind: str) -> bytes:
    sk = make_sketch(kind, **CFG[kind])
    sk.insert_bulk(np.random.default_rng(7).integers(0, 500, 3000))
    return sk.to_bytes()


def test_every_kind_covered():
    assert set(CFG) == set(SKETCH_KINDS)


@pytest.mark.parametrize("cut", [1, 7, 8, 64])
@pytest.mark.parametrize("kind", sorted(CFG))
def test_truncated_payload_raises_naming_kind(kind, cut):
    blob = _blob(kind)
    assert sketch_from_bytes(blob).to_bytes() == blob
    if kind == "theta" and cut % 8 == 0:
        pytest.xfail("theta's payload carries no count: whole-hash truncation "
                     "needs the envelope checksum")
    with pytest.raises(ValueError, match=f"corrupt {kind} sketch"):
        sketch_from_bytes(blob[:-cut])


def test_envelope_errors_are_value_errors():
    blob = _blob("hll")
    with pytest.raises(ValueError, match="too short"):
        sketch_from_bytes(blob[:5])
    with pytest.raises(ValueError, match="magic"):
        sketch_from_bytes(b"XXXX" + blob[4:])
    foreign = blob[:6] + struct.pack("<H", 99) + blob[8:]
    with pytest.raises(ValueError, match="unknown sketch kind code 99"):
        sketch_from_bytes(foreign)
    # header length pointing past the end of the bytes
    long_hdr = blob[:8] + struct.pack("<I", len(blob)) + blob[12:]
    with pytest.raises(ValueError, match="corrupt hll sketch: config header"):
        sketch_from_bytes(long_hdr)


def test_kll_trailing_bytes_rejected():
    blob = _blob("kll")
    with pytest.raises(ValueError, match="corrupt kll sketch: 8 trailing bytes"):
        sketch_from_bytes(blob + bytes(8))
