"""Pinned wire bytes: sha256 of ``to_bytes()`` for seeded KLL, REQ,
Count-Min, conservative-update Count-Min, AMS and HLL sketches, each
built from two seeded halves, merged, and round-tripped through its
module-level decoder. The sketches persist in checkpoint files and
daily tables, so a refactor of their shared bodies must not move a
byte."""

import hashlib

import numpy as np
import pytest

from q_digest_spark.sketches import (
    HLL,
    KLL,
    REQ,
    CountMin,
    ams_from_bytes,
    countmin_from_bytes,
    cucountmin_from_bytes,
    hll_from_bytes,
    kll_from_bytes,
    req_from_bytes,
)
from q_digest_spark.sketches.ams import AMS
from q_digest_spark.sketches.cucountmin import CUCountMin


def _values(seed):
    rng = np.random.default_rng(seed)
    return np.concatenate([rng.lognormal(3.0, 1.5, 30_000), rng.uniform(-5, 5, 20_000)])


def _keys(seed):
    rng = np.random.default_rng(seed)
    return rng.zipf(1.3, 40_000).astype(np.int64)


def _quantile(factory):
    def build(seed):
        sk = factory()
        for chunk in np.array_split(_values(seed), 7):
            sk.update_batch(chunk)
        return sk

    return build


def _table(factory):
    def build(seed):
        sk = factory()
        keys = _keys(seed)
        sk.update_batch(keys[:25_000])
        sk.update_hashes(np.unique(keys)[:500].view(np.uint64), np.arange(1, 501))
        return sk

    return build


def _hll(seed):
    sk = HLL(12)
    sk.update_batch(_keys(seed))
    return sk


CASES = {
    "kll": (_quantile(lambda: KLL(64)), kll_from_bytes),
    "req": (_quantile(lambda: REQ(16)), req_from_bytes),
    "cms": (_table(lambda: CountMin(4, 1024)), countmin_from_bytes),
    "cucms": (_table(lambda: CUCountMin(4, 1024)), cucountmin_from_bytes),
    "ams": (_table(lambda: AMS(5, 1024)), ams_from_bytes),
    "hll": (_hll, hll_from_bytes),
}

PINS = {
    "ams": (
        "a7bfb0237700d6043118bea083ed61a1149afda2925a7a120cdf5f053c22df87",
        "473487962e48fff218c6b98364656ea35a24f4f7ee65cf41d466f56beb927063",
    ),
    "cms": (
        "1f834ffdf1ed5897d3e871bee8787d971b9c035152acbb49de792c8bafad9a7d",
        "53baed24a75d659a2d14511ec5094abf6e62e3ac82aeb43ee438235862336dda",
    ),
    "cucms": (
        "c0c3f85a48933ee5e47cb984e5574157061cd1c38bb603c31714b207678e08c8",
        "4ad39ed200aba3a7e2c2dc21aa511f3b35dbee6623596e23c060caa52fef7ef8",
    ),
    "hll": (
        "1bbdcd8d27a7ae725dffb1e0b3943a0128af821386e83c937f236d2ce8328209",
        "f32c652af861d3fc38bd467e2601f20da421867906eedb156532722a7407971b",
    ),
    "kll": (
        "10ef65e3ed4ae169d5b7ab3a95607de00556b5809363b2f6ac7d9ed1a3b9ee19",
        "4385d18898426d6b7b8cefb888fc8862e206a0412881202693b989bf932598f5",
    ),
    "req": (
        "97205f64363eb875ca01d51bf35699e8c66faa0be9eb631fc43dcc1c25b4473b",
        "a551e97c802ddefa1bd059e7ae41869b50631862525e951107cfc09d643d3fe3",
    ),
}


def _sha(sk):
    return hashlib.sha256(sk.to_bytes()).hexdigest()


@pytest.mark.parametrize("name", sorted(CASES))
def test_wire_bytes_pinned(name):
    build, decode = CASES[name]
    a, b = build(1), build(2)
    built = _sha(a)
    merged = decode(a.to_bytes()).merge(decode(b.to_bytes()))
    assert _sha(a.merge(b)) == _sha(merged)
    again = decode(merged.to_bytes())
    assert type(again) is type(a) and again.to_bytes() == merged.to_bytes()
    assert (built, _sha(merged)) == PINS[name]
