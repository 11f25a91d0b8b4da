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

# Plain module-level deserializers: bound classmethods don't survive
# cloudpickle (their __func__ is serialized by value and drags in the
# module-level struct.Struct); these functions pickle by reference.


def qdigest_from_bytes(buf: bytes) -> QDigest:
    return QDigest.from_bytes(buf)


def kll_from_bytes(buf: bytes) -> KLL:
    return KLL.from_bytes(buf)


def gk_from_bytes(buf: bytes) -> GK:
    return GK.from_bytes(buf)


def req_from_bytes(buf: bytes) -> REQ:
    return REQ.from_bytes(buf)


def varopt_from_bytes(buf: bytes) -> VarOpt:
    return VarOpt.from_bytes(buf)


def l0sampler_from_bytes(buf: bytes) -> L0Sampler:
    return L0Sampler.from_bytes(buf)


def tdigest_from_bytes(buf: bytes) -> TDigest:
    return TDigest.from_bytes(buf)


def hll_from_bytes(buf: bytes) -> HLL:
    return HLL.from_bytes(buf)


def countmin_from_bytes(buf: bytes) -> CountMin:
    return CountMin.from_bytes(buf)


def bloom_from_bytes(buf: bytes) -> Bloom:
    return Bloom.from_bytes(buf)


def cuckoo_from_bytes(buf: bytes) -> CuckooFilter:
    return CuckooFilter.from_bytes(buf)


__all__ = [
    "Bloom",
    "CountMin",
    "HLL",
    "KLL",
    "QDigest",
    "TDigest",
    "optimal_params",
    "universe_bits_for",
]


def theta_from_bytes(buf: bytes):
    from .theta import ThetaSketch

    return ThetaSketch.from_bytes(buf)


def misragries_from_bytes(buf: bytes):
    from .misragries import MisraGries

    return MisraGries.from_bytes(buf)


def cucountmin_from_bytes(buf: bytes):
    from .cucountmin import CUCountMin

    return CUCountMin.from_bytes(buf)


def spacesaving_from_bytes(buf: bytes):
    from .spacesaving import SpaceSaving

    return SpaceSaving.from_bytes(buf)


def lossycounting_from_bytes(buf: bytes):
    from .lossycounting import LossyCounting

    return LossyCounting.from_bytes(buf)


def ddsketch_from_bytes(buf: bytes):
    from .ddsketch import DDSketch

    return DDSketch.from_bytes(buf)


def moments_from_bytes(buf: bytes):
    from .moments import Moments

    return Moments.from_bytes(buf)


def ams_from_bytes(buf: bytes):
    from .ams import AMS

    return AMS.from_bytes(buf)


def fd_from_bytes(buf: bytes):
    from .fd import FrequentDirections

    return FrequentDirections.from_bytes(buf)


def counting_bloom_from_bytes(buf: bytes):
    from .cbloom import CountingBloom

    return CountingBloom.from_bytes(buf)
