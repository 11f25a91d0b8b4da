"""Pinned wire bytes: sha256 of ``to_bytes()`` for seeded KLL, REQ,
Q-Digest (16- and 32-bit universes), t-digest, Count-Min,
conservative-update Count-Min, AMS, HLL and Bloom sketches, each built
from two seeded halves, merged, and round-tripped through
``sketches.from_bytes``, which picks the class by the wire magic. The
sketches persist in checkpoint files and daily tables, so a refactor
of their shared bodies must not move a byte. ``from_bytes`` must also
read back one small sketch of every registered format, and reject an
unknown magic or a short buffer.

The counter tables (Count-Min, CU Count-Min, AMS) write version 2, a
dense-or-sparse body at the narrowest integer dtype. Their version-1
bytes (dense int64) stay pinned in ``V1_PINS``: the tests rebuild that
layout with ``struct`` and check both its hash and that ``from_bytes``
still reads it, so tables stored before version 2 keep decoding. A
malformed version-2 buffer must raise ``ValueError``."""

import hashlib
import struct

import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle

from q_digest_spark.sketches import (
    GK,
    HLL,
    KLL,
    REQ,
    Bloom,
    CountMin,
    CuckooFilter,
    L0Sampler,
    QDigest,
    TDigest,
    VarOpt,
    _FORMATS,
    from_bytes,
)
from q_digest_spark.sketches.ams import AMS
from q_digest_spark.sketches.cbloom import CountingBloom
from q_digest_spark.sketches.cucountmin import CUCountMin
from q_digest_spark.sketches.ddsketch import DDSketch
from q_digest_spark.sketches.dgim import DGIM
from q_digest_spark.sketches.fd import FrequentDirections
from q_digest_spark.sketches.iblt import IBLT
from q_digest_spark.sketches.lossycounting import LossyCounting
from q_digest_spark.sketches.misragries import MisraGries
from q_digest_spark.sketches.moments import Moments
from q_digest_spark.sketches.spacesaving import SpaceSaving
from q_digest_spark.sketches.theta import ThetaSketch


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


def _qdigest(bits):
    def build(seed):
        rng = np.random.default_rng(seed)
        vals = np.minimum(rng.pareto(1.2, 40_000) * 64, (1 << bits) - 1).astype(np.int64)
        sk = QDigest(64, bits)
        for chunk in np.array_split(vals[:20_000], 5):
            sk.update_batch(chunk)
        sk.update_batch(vals[20_000:], rng.integers(1, 50, 20_000))
        return sk

    return build


def _hll(seed):
    sk = HLL(12)
    sk.update_batch(_keys(seed))
    return sk


def _bloom(seed):
    sk = Bloom(1 << 16, 7)
    sk.update_batch(_keys(seed))
    return sk


def _cms_sparse(seed):
    """A table a few keys fill, so the body takes the sparse layout."""
    sk = CountMin(5, 16384)
    sk.update_batch(_keys(seed)[:200])
    return sk


CASES = {
    "kll": _quantile(lambda: KLL(64)),
    "req": _quantile(lambda: REQ(16)),
    "cms": _table(lambda: CountMin(4, 1024)),
    "cucms": _table(lambda: CUCountMin(4, 1024)),
    "ams": _table(lambda: AMS(5, 1024)),
    "hll": _hll,
    "qdigest16": _qdigest(16),
    "qdigest32": _qdigest(32),
    "tdigest": _quantile(lambda: TDigest(100)),
    "bloom": _bloom,
    "cms_sparse": _cms_sparse,
}

# Counter tables write version 2; their version-1 hashes are V1_PINS.
PINS = {
    "ams": (
        "78ad58ea2465623858d245d1e0b19110a294da73f2cda67d2593bcad0a134b6b",
        "26c8ae042af04151530f7dd1cc7567906fdcb0f976f7dee31dc65c1858545662",
    ),
    "bloom": (
        "714774c8d104b0da2dbecd3e86399c105a9e14d3ed74f8491cc3ff26bfeb95ad",
        "05190a408398119d0c92614656cc34af31278e00755539d8c1bb45980786bbdf",
    ),
    "cms": (
        "162ae7b22cf0dd312b4d91b90fb41d5454e1d27ec6a1e500a000289936de7cfa",
        "f8742e4148b93d25375a5d6c90327ef459ed74f56f22897037303ede791957cb",
    ),
    "cms_sparse": (
        "bbc99f238a4b5c1d4296a365f2854e7da796f069931ac69f70708e2e297e1c06",
        "3e9c00f99e094bd4ee5209f567b7bca055036c2ad6b106060b4cffc8823ce4bb",
    ),
    "cucms": (
        "f2ddf5d7c1c36400bbc70a52a96df0dab6fb4f7a548b3bd5db20b33e674f45fa",
        "31ad31484142a914af0f7f9c4b1513f9c63fbac8293d2a6227949be93774ab53",
    ),
    "hll": (
        "1bbdcd8d27a7ae725dffb1e0b3943a0128af821386e83c937f236d2ce8328209",
        "f32c652af861d3fc38bd467e2601f20da421867906eedb156532722a7407971b",
    ),
    "kll": (
        "10ef65e3ed4ae169d5b7ab3a95607de00556b5809363b2f6ac7d9ed1a3b9ee19",
        "4385d18898426d6b7b8cefb888fc8862e206a0412881202693b989bf932598f5",
    ),
    "qdigest16": (
        "8146e8e7845418bd625026372f2f14a09e72fe5620d691c3b8bd13095eb19b67",
        "0659e679f25a042d0761cc3a503f81aee5c3a192e509f839688a0a6553f5a7e0",
    ),
    "qdigest32": (
        "e781c6aa789e46cd3fec2ea7a3271c6045de0990aa90a7463199ffc71d8062f9",
        "d8af1dd0921d3dcf2270ca12ae84ef79e327ff607561cf4242c002be3b260770",
    ),
    "req": (
        "97205f64363eb875ca01d51bf35699e8c66faa0be9eb631fc43dcc1c25b4473b",
        "a551e97c802ddefa1bd059e7ae41869b50631862525e951107cfc09d643d3fe3",
    ),
    "tdigest": (
        "5b91b9e2d22ac16d846e8a1db1c86a58c47f4dcdcceb30952702a55d421a1997",
        "5acdc7f96837ddfc4789759cccda330f292768963d78bd236854d3647e89f64e",
    ),
}

# The version-1 counter-table bytes (dense int64 table), built and merged.
V1_PINS = {
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
}


def _sha(sk):
    return hashlib.sha256(sk.to_bytes()).hexdigest()


@pytest.mark.parametrize("name", sorted(CASES))
def test_wire_bytes_pinned(name):
    build = CASES[name]
    a, b = build(1), build(2)
    built = _sha(a)
    merged = from_bytes(a.to_bytes()).merge(from_bytes(b.to_bytes()))
    assert _sha(a.merge(b)) == _sha(merged)
    again = from_bytes(merged.to_bytes())
    assert type(again) is type(a) and again.to_bytes() == merged.to_bytes()
    assert (built, _sha(merged)) == PINS[name]


def _v1(sk) -> bytes:
    """The version-1 counter-table layout: header, then the dense
    row-major int64 table."""
    return struct.pack("<4sBBIq", sk.MAGIC, 1, sk.depth, sk.width, sk.n) + sk.table.tobytes()


@pytest.mark.parametrize("name", sorted(V1_PINS))
def test_counter_tables_read_version_1(name):
    """The rebuilt version-1 bytes hash to the pins the format had
    before version 2, and ``from_bytes`` reads them back to the same
    int64 table."""
    a, b = CASES[name](1), CASES[name](2)
    merged = from_bytes(a.to_bytes()).merge(from_bytes(b.to_bytes()))
    sks = (a, merged)
    bufs = [_v1(sk) for sk in sks]
    assert tuple(hashlib.sha256(buf).hexdigest() for buf in bufs) == V1_PINS[name]
    for sk, buf in zip(sks, bufs):
        again = from_bytes(buf)
        assert type(again) is type(sk)
        assert (again.depth, again.width, again.n) == (sk.depth, sk.width, sk.n)
        assert again.table.dtype == np.int64
        np.testing.assert_array_equal(again.table, sk.table)
        assert again.to_bytes() == sk.to_bytes()


def _partial(seed, n=3000):
    sk = CountMin(5, 16384)
    sk.update_batch(np.random.default_rng(seed).zipf(1.3, n))
    return sk


def test_sparse_table_ships_a_fraction_of_its_dense_size():
    sk = _partial(1)
    assert np.count_nonzero(sk.table) <= 0.05 * sk.table.size
    buf = sk.to_bytes()
    assert buf[18] == 1  # sparse layout
    assert len(buf) < sk.table.nbytes / 8  # the dense int64 table
    np.testing.assert_array_equal(from_bytes(buf).table, sk.table)


def test_full_table_takes_the_dense_layout():
    sk = CountMin(3, 64)
    sk.update_batch(np.arange(50_000))
    assert np.count_nonzero(sk.table) == sk.table.size
    buf = sk.to_bytes()
    assert buf[18] == 0  # dense layout
    assert len(buf) == 18 + 2 + sk.table.size * 2  # uint16 counters
    np.testing.assert_array_equal(from_bytes(buf).table, sk.table)


@pytest.mark.parametrize("cls", [CountMin, CUCountMin, AMS])
def test_empty_table_round_trips(cls):
    sk = cls(4, 256)
    again = from_bytes(sk.to_bytes())
    assert type(again) is cls and again.n == 0
    assert again.table.shape == (4, 256) and again.table.dtype == np.int64
    assert not again.table.any()


def test_merge_order_gives_equal_bytes():
    parts = [_partial(seed) for seed in range(4)]
    bufs = set()
    for order in ([0, 1, 2, 3], [3, 1, 0, 2], [2, 3, 1, 0]):
        acc = from_bytes(parts[order[0]].to_bytes())
        for i in order[1:]:
            acc.merge(from_bytes(parts[i].to_bytes()))
        bufs.add(acc.to_bytes())
    assert len(bufs) == 1


def _sparse_buf():
    sk = CountMin(2, 8)
    sk.table[0, 3], sk.table[1, 5] = 7, 9
    sk.n = 16
    buf = sk.to_bytes()
    assert buf[18:20] == bytes([1, 0])  # sparse, uint8
    return buf


def _patch(buf, offset, raw):
    return buf[:offset] + raw + buf[offset + len(raw):]


_HEAD, _NNZ_AT = 18, 20  # sizes/offsets of the version-2 layout
MALFORMED = {
    "version": lambda b: _patch(b, 4, bytes([3])),
    "layout": lambda b: _patch(b, _HEAD, bytes([2])),
    "dtype": lambda b: _patch(b, _HEAD + 1, bytes([7])),
    "truncated": lambda b: b[:-1],
    "no_body": lambda b: b[:_HEAD + 1],
    "trailing": lambda b: b + bytes(1),
    "index_past_table": lambda b: _patch(b, _NNZ_AT + 8, struct.pack("<I", 16)),
    "index_not_increasing": lambda b: _patch(b, _NNZ_AT + 4, struct.pack("<II", 5, 3)),
    "index_repeated": lambda b: _patch(b, _NNZ_AT + 4, struct.pack("<II", 3, 3)),
}


@pytest.mark.parametrize("case", sorted(MALFORMED))
def test_malformed_version_2_raises_value_error(case):
    buf = MALFORMED[case](_sparse_buf())
    with pytest.raises(ValueError, match="CountMin|CMS1"):
        from_bytes(buf)


def test_sparse_buf_is_well_formed():
    """The fixture the malformed cases patch decodes as written."""
    sk = from_bytes(_sparse_buf())
    assert sk.table[0, 3] == 7 and sk.table[1, 5] == 9 and sk.table.sum() == 16


_INTS = np.random.default_rng(3).integers(0, 1_000, 500)


def _fed(sk, *batch):
    sk.update_batch(*batch)
    return sk


def _candidates():
    from q_digest_spark.operators.heavy_hitters import Candidates

    keys = np.unique(_INTS)[:8]
    return Candidates(pd.DataFrame({"h": keys, "cnt": keys + 1, "key": keys.astype(str)}))


SMALL = {
    b"QDG1": lambda: _fed(QDigest(16, 10), _INTS),
    b"KLL1": lambda: _fed(KLL(32), _INTS.astype(float)),
    b"REQ1": lambda: _fed(REQ(8), _INTS.astype(float)),
    b"GKS1": lambda: _fed(GK(64), _INTS.astype(float)),
    b"TDG1": lambda: _fed(TDigest(50), _INTS.astype(float)),
    b"DDS1": lambda: _fed(DDSketch(0.05), _INTS.astype(float)),
    b"MOM1": lambda: _fed(Moments(), _INTS),
    b"HLL1": lambda: _fed(HLL(8), _INTS),
    b"THT1": lambda: _fed(ThetaSketch(64), _INTS),
    b"CMS1": lambda: _fed(CountMin(3, 64), _INTS),
    b"CUS1": lambda: _fed(CUCountMin(3, 64), _INTS),
    b"AMS1": lambda: _fed(AMS(3, 64), _INTS),
    b"BLM1": lambda: _fed(Bloom(1 << 12, 3), _INTS),
    b"CBF1": lambda: _fed(CountingBloom(1 << 10, 3), _INTS),
    b"CKF1": lambda: _fed(CuckooFilter(256), np.unique(_INTS)),
    b"MGS1": lambda: _fed(MisraGries(16), _INTS.astype(str)),
    b"SSV1": lambda: _fed(SpaceSaving(16), _INTS.astype(str)),
    b"LCS1": lambda: _fed(LossyCounting(0.01), _INTS.astype(str)),
    b"VOP1": lambda: _fed(VarOpt(16), _INTS, _INTS + 1.0),
    b"L0S1": lambda: _fed(L0Sampler(), _INTS),
    b"FDS1": lambda: _fed(FrequentDirections(4), np.random.default_rng(4).normal(size=(50, 6))),
    b"DGM1": lambda: DGIM.from_sorted_ts(np.sort(_INTS)),
    b"IBL1": lambda: _fed(IBLT(64), np.unique(_INTS)[:20]),
    b"CND1": _candidates,
}


def test_every_format_has_a_case():
    assert set(SMALL) == set(_FORMATS)


@pytest.mark.parametrize("magic", sorted(_FORMATS), ids=bytes.decode)
def test_from_bytes_reads_every_format(magic):
    """The magic alone picks the class: same class, same bytes back."""
    sk = SMALL[magic]()
    buf = sk.to_bytes()
    assert buf[:4] == magic
    again = from_bytes(buf)
    assert type(again) is type(sk)
    assert again.to_bytes() == buf


@pytest.mark.parametrize(
    "keys", [["a", None, "c"], [7, -1, 1 << 40], [None, None, None]], ids=["str", "int", "null"]
)
def test_candidates_round_trip_keys(keys):
    """``CND1`` carries its frame as an Arrow IPC stream: string,
    integer and NULL keys come back as they went in."""
    from q_digest_spark.operators.heavy_hitters import Candidates

    table = pd.DataFrame({"h": np.arange(3, dtype=np.int64), "cnt": np.int64([5, 1, 2]), "key": keys})
    again = from_bytes(Candidates(table).to_bytes())
    pd.testing.assert_frame_equal(again.table, table)


def test_candidates_rejects_a_pickle_body():
    """Decoding stored bytes never unpickles: a ``CND1`` buffer whose
    body is a pickle is not an Arrow stream, so it raises."""
    import pickle

    table = pd.DataFrame({"h": [1], "cnt": [1], "key": ["a"]})
    with pytest.raises(ValueError, match="Candidates"):
        from_bytes(b"CND1" + pickle.dumps(table, protocol=5))


def test_from_bytes_rejects_unknown_and_truncated_buffers():
    with pytest.raises(ValueError, match="XXXX"):
        from_bytes(b"XXXX" + bytes(40))
    with pytest.raises(ValueError, match="QDG"):
        from_bytes(b"QDG")
    with pytest.raises(ValueError, match="QDG1"):
        from_bytes(b"QDG1")


def test_from_bytes_pickles_by_reference():
    """Spark closures ship the decoder by name, not by value."""
    assert len(cloudpickle.dumps(from_bytes)) < 200
