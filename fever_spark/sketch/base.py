"""Sketch ABC + binary envelope.

Envelope layout (all little-endian):

    offset  size  field
    0       4     magic  b"FVSK"
    4       1     format version (1)
    5       1     sketch kind: 1 bloom, 2 hll, 3 cms, 4 kll, 5 tdigest,
                  6 cmstopk, 7 kmv
    6       2     flags: bit 0 (FLAG_ZLIB) payload is zlib-compressed;
                  bit 1 (FLAG_CRC32) a CRC32 trailer follows the payload
    8       ...   payload: kind-specific params + arrays (zlib stream
                  when bit 0 is set)
    -4      4     CRC32 of every byte before it (only when bit 1 is set)

``to_bytes`` always sets bit 1. States written without it (older
checkpoints, daemon stats dirs and filter files) still load; for those a
bit flip in a raw payload goes unseen, as it always did.

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

import numpy as np

MAGIC = b"FVSK"
VERSION = 1

FLAG_ZLIB = 1
FLAG_CRC32 = 2
_COMPRESS_MIN = 4096  # don't bother below this payload size

KIND_BLOOM = 1
KIND_HLL = 2
KIND_CMS = 3
KIND_KLL = 4
KIND_TDIGEST = 5
KIND_CMSTOPK = 6
KIND_KMV = 7

_ENVELOPE = struct.Struct("<4sBBH")  # magic, version, kind, flags
_CRC = struct.Struct("<I")

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


def corrupt(why: str) -> ValueError:
    """The one error every unreadable state raises."""
    return ValueError(f"corrupt sketch state: {why}")


class Cursor:
    """Bounded reader over a byte buffer: a read past the end, or bytes
    left unread at ``end()``, is a corrupt state. Every ``_from_payload``
    reads its payload only through one of these."""

    __slots__ = ("buf", "off")

    def __init__(self, buf):
        self.buf = memoryview(buf)
        self.off = 0

    def take(self, n: int) -> memoryview:
        """The next ``n`` bytes."""
        stop = self.off + n
        if n < 0 or stop > len(self.buf):
            raise corrupt(f"needs {stop} bytes, holds {len(self.buf)}")
        view = self.buf[self.off:stop]
        self.off = stop
        return view

    def unpack(self, st: struct.Struct) -> tuple:
        return st.unpack_from(self.take(st.size))

    def array(self, dtype, n: int) -> np.ndarray:
        """A read-only view of the next ``n`` items of ``dtype``."""
        dt = np.dtype(dtype)
        return np.frombuffer(self.take(dt.itemsize * n), dtype=dt)

    def rest(self) -> memoryview:
        return self.take(len(self.buf) - self.off)

    def end(self) -> None:
        if self.off != len(self.buf):
            raise corrupt(f"{len(self.buf) - self.off} trailing bytes "
                          f"after {self.off}")


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
    def _from_payload(cls, cur: Cursor) -> "Sketch":
        """Parse the payload through ``cur``, ending with ``cur.end()``."""

    def to_bytes(self) -> bytes:
        payload = self._payload_bytes()
        flags = FLAG_CRC32
        if len(payload) >= _COMPRESS_MIN:
            packed = zlib.compress(payload, 1)
            if len(packed) < len(payload) * 3 // 4:
                payload, flags = packed, flags | FLAG_ZLIB
        head = _ENVELOPE.pack(MAGIC, VERSION, self.KIND, flags)
        crc = zlib.crc32(payload, zlib.crc32(head))
        return b"".join((head, payload, _CRC.pack(crc)))

    @classmethod
    def from_bytes(cls, data: bytes) -> "Sketch":
        sk = sketch_from_bytes(data)
        if not isinstance(sk, cls):
            raise TypeError(f"expected {cls.__name__}, payload is {type(sk).__name__}")
        return sk


def _header(cur: Cursor) -> tuple[int, int]:
    """Read and check the 8-byte envelope header: magic and version
    first, then the flag bits; return ``(kind, flags)``."""
    magic, version, kind, flags = cur.unpack(_ENVELOPE)
    if magic != MAGIC:
        raise ValueError(f"bad sketch magic {magic!r}")
    if version != VERSION:
        raise ValueError(f"unsupported sketch version {version}")
    if flags & ~(FLAG_ZLIB | FLAG_CRC32):
        raise corrupt(f"unknown flag bits {flags:#06x}")
    return kind, flags


def sketch_from_bytes(data: bytes) -> Sketch:
    """The one reader of a serialized state: the header is checked, the
    CRC verified, and only then is the payload inflated and parsed."""
    cur = Cursor(data)
    kind, flags = _header(cur)
    if flags & FLAG_CRC32:
        payload = cur.take(len(cur.buf) - cur.off - _CRC.size)
        (crc,) = cur.unpack(_CRC)
        if zlib.crc32(cur.buf[:-_CRC.size]) != crc:
            raise corrupt("CRC32 mismatch")
    else:
        payload = cur.rest()
    if kind not in SKETCH_REGISTRY:
        raise ValueError(f"unknown sketch kind {kind}")
    if flags & FLAG_ZLIB:
        payload = _inflate(payload)
    return SKETCH_REGISTRY[kind]._from_payload(Cursor(payload))


def _inflate(payload) -> bytes:
    """Decompress a zlib payload that must end exactly where the payload
    does; a cut, garbled or padded stream is a corrupt state."""
    z = zlib.decompressobj()
    try:
        out = z.decompress(payload)
    except zlib.error as e:
        raise corrupt(str(e)) from e
    if not z.eof or z.unused_data:
        raise corrupt("zlib stream does not end at the payload end")
    return out


def merge_many(states: list[bytes]) -> Sketch:
    """Merge serialized states of one kind. Every state's header is checked
    and all must share one kind, whatever their order. Each state is then
    decoded through ``sketch_from_bytes``. Kinds with an N-way
    ``_merge_many`` (KLL, t-digest: one compaction pass over all inputs
    beats N-1 pairwise ones) get every decoded state at once; the rest
    merge pairwise, keeping at most two decoded states alive."""
    if not states:
        raise ValueError("merge_many needs at least one state")
    kinds = {_header(Cursor(s))[0] for s in states}
    if len(kinds) > 1:
        names = sorted(getattr(SKETCH_REGISTRY.get(k), "NAME", str(k))
                       for k in kinds)
        raise ValueError(f"cannot merge different sketch kinds: {names}")
    sketches = map(sketch_from_bytes, states)
    n_way = getattr(SKETCH_REGISTRY.get(kinds.pop()), "_merge_many", None)
    if n_way is not None and len(states) > 1:
        return n_way(list(sketches))
    first = next(sketches)
    for sk in sketches:
        first.merge(sk)
    return first


def merge_rows(rows, keys: list[str]) -> dict[tuple, Sketch]:
    """State rows ``(keys..., sketch, state)`` → {(key..., sketch): Sketch}.
    Rows are any mappings (Spark ``Row``s, pyarrow ``to_pylist()`` dicts);
    they are grouped by keys plus sketch name in first-seen order, and each
    group's states go through ``merge_many`` once: a frame of partition
    partials gives each key's merged sketch, never just its last partial."""
    groups: dict[tuple, list[bytes]] = {}
    for row in rows:
        key = tuple(row[k] for k in keys) + (row["sketch"],)
        groups.setdefault(key, []).append(bytes(row["state"]))
    return {key: merge_many(states) for key, states in groups.items()}
