"""Mergeable sketch kernels (pure numpy — Spark-independent).

All five sketches share the protocol in :mod:`sketchlib.sketch.protocol`:
create / update / merge / serialize / deserialize plus sketch-specific
queries.  The Spark layer (:mod:`sketchlib.agg`) treats them uniformly.
"""

from .bloom import BLOOM, Bloom, BloomState
from .cms import CMS, Cms, CmsState
from .hll import HLL, Hll, HllState
from .kll import KLL, Kll, KllState
from .kmv import KMV, Kmv, KmvState
from .mg import MG, Mg, MgState
from .protocol import pack_state, peek_kind, unpack_state
from .tdigest import TDIGEST, TDigest, TDigestState

KINDS = {s.name: s for s in (BLOOM, HLL, CMS, KLL, TDIGEST, MG, KMV)}
#: kinds whose states hold key hashes: their headers carry the hash domain
#: and a state from another domain is refused (``hashing.check_domain``)
HASH_DOMAIN_KINDS = frozenset({"bloom", "hll", "cms", "kmv"})


def deserialize_any(data: bytes):
    """Dispatch on the blob's embedded kind tag."""
    kind = peek_kind(data)
    return KINDS[kind].deserialize(data)


__all__ = [
    "BLOOM", "Bloom", "BloomState",
    "HLL", "Hll", "HllState",
    "CMS", "Cms", "CmsState",
    "KLL", "Kll", "KllState",
    "KMV", "Kmv", "KmvState",
    "MG", "Mg", "MgState",
    "TDIGEST", "TDigest", "TDigestState",
    "KINDS", "HASH_DOMAIN_KINDS", "deserialize_any",
    "pack_state", "unpack_state", "peek_kind",
]
