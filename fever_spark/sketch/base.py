"""Sketch ABC + binary envelope.

Envelope layout (all little-endian):

    offset  size  field
    0       4     magic  b"FVSK"
    4       1     format version (1)
    5       1     sketch kind (see KIND constants)
    6       2     flags (bit 0: payload is zlib-compressed)
    8       ...   kind-specific params + payload

The fixed magic/version/kind header follows the style of the reference's
binary flow records (/root/reference/types/flow_event.go:93-99), which lead
with a format byte so readers can reject unknown versions.

Compression matters at scale: a partition-local CMS partial covering a few
thousand rows is a ~1.5 MB table of mostly zeros; with P partitions and G
groups, the merge shuffle moves P×G of them. zlib level 1 shrinks
near-empty tables ~20-50x for ~ms of CPU, applied only when it wins.
"""

from __future__ import annotations

import struct
import zlib
from abc import ABC, abstractmethod
from contextlib import contextmanager

MAGIC = b"FVSK"
VERSION = 1

FLAG_ZLIB = 1
_COMPRESS_MIN = 4096  # don't bother below this payload size

KIND_BLOOM = 1
KIND_HLL = 2
KIND_CMS = 3
KIND_KLL = 4
KIND_TDIGEST = 5

SKETCH_REGISTRY: dict[int, type] = {}
NAME_REGISTRY: dict[str, type] = {}

_MASK64 = (1 << 64) - 1


def canonical_seed(seed: int) -> int:
    """Wrap an arbitrary Python int seed to the signed 64-bit range —
    the same 2's-complement wrap hashing.hash64 applies to integer inputs.
    Sketches canonicalize their seed ONCE at construction so (a) the seed
    survives serde exactly (headers store it as little-endian int64) and
    (b) derived seeds like ``seed + 0x9E3779B9`` that overflow 64 bits
    can't raise struct.error inside an executor at to_bytes time."""
    s = int(seed) & _MASK64
    return s - (1 << 64) if s >= (1 << 63) else s


def register(kind: int, name: str):
    def deco(cls):
        cls.KIND = kind
        cls.NAME = name
        SKETCH_REGISTRY[kind] = cls
        NAME_REGISTRY[name] = cls
        return cls

    return deco


class Sketch(ABC):
    KIND: int = 0
    NAME: str = ""

    @abstractmethod
    def update(self, values) -> None:
        """Bulk update from a 1-D numpy array (vectorized; no per-row Python)."""

    @abstractmethod
    def merge(self, other: "Sketch") -> "Sketch":
        """In-place associative+commutative merge; returns self."""

    @abstractmethod
    def _payload_bytes(self) -> bytes: ...

    def max_state_bytes(self) -> int:
        """Upper bound on the IN-MEMORY footprint this sketch can reach when
        saturated — what a task-memory budget must provision per group
        (ops/build.py derives its group cap from this). The default — the
        current payload size — is exact for dense fixed-size states
        (Bloom/HLL/CMS allocate their full table at construction); sketches
        whose state GROWS with input (KMV's stored values, KLL's levels,
        t-digest's buffers) override with a saturated-state estimate."""
        return max(1, len(self._payload_bytes()))

    @classmethod
    @abstractmethod
    def _from_payload(cls, buf: memoryview) -> "Sketch": ...

    def to_bytes(self) -> bytes:
        payload = self._payload_bytes()
        flags = 0
        if len(payload) >= _COMPRESS_MIN:
            packed = zlib.compress(payload, 1)
            if len(packed) < len(payload) * 3 // 4:
                payload, flags = packed, FLAG_ZLIB
        return struct.pack("<4sBBH", MAGIC, VERSION, self.KIND, flags) + payload

    @classmethod
    def from_bytes(cls, data: bytes) -> "Sketch":
        sk = sketch_from_bytes(data)
        if not isinstance(sk, cls):
            raise TypeError(f"expected {cls.__name__}, payload is {type(sk).__name__}")
        return sk


def payload_of(data: bytes) -> bytes:
    """Raw (decompressed) payload of a serialized state — used by the
    vectorized _merge_many fast paths."""
    _, flags = _check_header(data)
    payload = bytes(memoryview(data)[8:])
    if flags & FLAG_ZLIB:
        payload = _inflate(payload)
    return payload


def _inflate(payload) -> bytes:
    """Decompress a zlib payload; a cut or garbled stream is a corrupt
    state (``ValueError``), not a ``zlib.error``."""
    try:
        return zlib.decompress(payload)
    except zlib.error as e:
        raise ValueError(f"corrupt sketch state: {e}") from e


def _check_header(data: bytes) -> tuple[int, int]:
    """Check a serialized state's length, magic, version and kind; return
    ``(kind, flags)``."""
    if len(data) < 8:
        raise ValueError(f"corrupt sketch state: {len(data)} bytes is "
                         "shorter than the 8-byte header")
    magic, version, kind, flags = struct.unpack_from("<4sBBH", data, 0)
    if magic != MAGIC:
        raise ValueError(f"bad sketch magic {magic!r}")
    if version != VERSION:
        raise ValueError(f"unsupported sketch version {version}")
    if kind not in SKETCH_REGISTRY:
        raise ValueError(f"unknown sketch kind {kind}")
    return kind, flags


def take(buf, off: int, n: int) -> memoryview:
    """``buf[off:off + n]``, or a corrupt-state ``ValueError`` if the
    payload ends before those ``n`` bytes do."""
    if off + n > len(buf):
        raise ValueError(f"corrupt sketch state: needs {off + n} payload "
                         f"bytes, holds {len(buf)}")
    return buf[off:off + n]


@contextmanager
def _short_state_is_corrupt():
    """A kind header cut short raises ``struct.error``: a corrupt state."""
    try:
        yield
    except struct.error as e:
        raise ValueError(f"corrupt sketch state: {e}") from e


def merge_many(states: list[bytes]) -> Sketch:
    """Merge serialized states efficiently. Every state's header is checked
    and all must share one kind, whatever their order; then dispatches to
    the sketch class's ``_merge_many`` fast path when it has one
    (Bloom/HLL/CMS reduce over zero-copy buffer views — the hot path of
    the shuffle-merge stage), else falls back to pairwise
    deserialize+merge."""
    if not states:
        raise ValueError("merge_many needs at least one state")
    kinds = {_check_header(s)[0] for s in states}
    if len(kinds) > 1:
        names = sorted(SKETCH_REGISTRY[k].NAME for k in kinds)
        raise ValueError(f"cannot merge different sketch kinds: {names}")
    fast = getattr(SKETCH_REGISTRY[kinds.pop()], "_merge_many", None)
    if fast is not None and len(states) > 1:
        with _short_state_is_corrupt():
            return fast(states)
    first = sketch_from_bytes(states[0])
    for b in states[1:]:
        first.merge(sketch_from_bytes(b))
    return first


def sketch_from_bytes(data: bytes) -> Sketch:
    kind, flags = _check_header(data)
    payload = memoryview(data)[8:]
    if flags & FLAG_ZLIB:
        payload = memoryview(_inflate(payload))
    with _short_state_is_corrupt():
        return SKETCH_REGISTRY[kind]._from_payload(payload)
