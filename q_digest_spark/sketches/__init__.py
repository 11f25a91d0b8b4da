import struct
from importlib import import_module

from .bloom import Bloom, optimal_params
from .countmin import CountMin
from .cuckoo import CuckooFilter
from .hll import HLL
from .gk import GK
from .kll import KLL
from .qdigest import QDigest, universe_bits_for
from .req import REQ
from .varopt import VarOpt
from .l0sampler import L0Sampler
from .tdigest import TDigest

# Every wire format starts with a 4-byte magic; this table names the
# module (relative to this package) and class that read it. Modules
# import on first use, so a decode never loads the families it skips.
_FORMATS = {
    b"QDG1": (".qdigest", "QDigest"),
    b"KLL1": (".kll", "KLL"),
    b"REQ1": (".req", "REQ"),
    b"GKS1": (".gk", "GK"),
    b"TDG1": (".tdigest", "TDigest"),
    b"DDS1": (".ddsketch", "DDSketch"),
    b"MOM1": (".moments", "Moments"),
    b"HLL1": (".hll", "HLL"),
    b"THT1": (".theta", "ThetaSketch"),
    b"CMS1": (".countmin", "CountMin"),
    b"CUS1": (".cucountmin", "CUCountMin"),
    b"AMS1": (".ams", "AMS"),
    b"BLM1": (".bloom", "Bloom"),
    b"CBF1": (".cbloom", "CountingBloom"),
    b"CKF1": (".cuckoo", "CuckooFilter"),
    b"MGS1": (".misragries", "MisraGries"),
    b"SSV1": (".spacesaving", "SpaceSaving"),
    b"LCS1": (".lossycounting", "LossyCounting"),
    b"VOP1": (".varopt", "VarOpt"),
    b"L0S1": (".l0sampler", "L0Sampler"),
    b"FDS1": (".fd", "FrequentDirections"),
    b"DGM1": (".dgim", "DGIM"),
    b"IBL1": (".iblt", "IBLT"),
    b"CND1": ("..operators.heavy_hitters", "Candidates"),
}


def from_bytes(buf: bytes):
    """Decode any sketch's ``to_bytes()`` by its magic; ValueError on
    an unknown magic or a buffer too short for its header.

    A plain module-level function, so Spark closures that call it
    pickle it by reference: a bound classmethod such as
    ``QDigest.from_bytes`` pickles its ``__func__`` by value, dragging
    in the module-level ``struct.Struct``, which cloudpickle rejects."""
    magic = bytes(buf[:4])
    if magic not in _FORMATS:
        raise ValueError(f"unknown sketch format: magic {magic!r} ({len(buf)} bytes)")
    module, name = _FORMATS[magic]
    try:
        return getattr(import_module(module, __name__), name).from_bytes(buf)
    except struct.error as e:
        raise ValueError(f"truncated {magic!r} sketch: {len(buf)} bytes ({e})") from None


# Kept for the benchmark, which passes it to the entry points that
# still take a decoder.
def qdigest_from_bytes(buf: bytes) -> QDigest:
    return QDigest.from_bytes(buf)


__all__ = [
    "Bloom",
    "CountMin",
    "HLL",
    "KLL",
    "QDigest",
    "TDigest",
    "from_bytes",
    "optimal_params",
    "universe_bits_for",
]
