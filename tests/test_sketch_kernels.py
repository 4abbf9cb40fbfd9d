"""Unit tests for the pure-numpy sketch kernels (no Spark).

Patterns follow the reference's test strategy (SURVEY.md §5):
randomized-with-invariant-checks (flow_aggregator_test.go:40-139 analog),
zero-false-negative Bloom property (bloom_handler_test.go:409-427 analog),
and serde round-trips (flow_extractor_test.go:94-220 analog).
"""

import base64
import struct
import zlib

import numpy as np
import pytest

from fever_spark.hashing import double_hash64, hash64
from fever_spark.sketch import (
    BloomFilter, CountMinSketch, HyperLogLog, KLLSketch, TDigest,
    sketch_from_bytes,
)
from fever_spark.sketch.base import FLAG_CRC32, FLAG_ZLIB, merge_many

RNG = np.random.default_rng(42)


def rand_strings(n, n_distinct, prefix="v", rng=RNG):
    ids = rng.integers(0, n_distinct, size=n)
    return np.array([f"{prefix}{i}" for i in ids], dtype=object), ids


def with_crc(data: bytearray) -> bytes:
    """Re-seal a hand-edited state so its CRC32 trailer matches again."""
    struct.pack_into("<I", data, len(data) - 4, zlib.crc32(data[:-4]))
    return bytes(data)


def legacy(data: bytes) -> bytes:
    """The same state as written before the CRC32 trailer existed: flag
    bit 1 clear and no trailer."""
    assert data[6] & FLAG_CRC32
    return data[:6] + bytes([data[6] & ~FLAG_CRC32]) + data[7:-4]


# ---------------------------------------------------------------- hashing

class TestHashing:
    def test_deterministic_across_calls(self):
        a = np.array(["x", "y", "zz"], dtype=object)
        assert (hash64(a) == hash64(a)).all()
        assert (hash64(a, seed=7) != hash64(a, seed=8)).any()

    def test_factorize_path_matches_direct(self):
        # above/below the factorize threshold must agree
        vals = np.array([f"k{i % 50}" for i in range(5000)], dtype=object)
        direct = np.array([hash64(np.array([v], dtype=object))[0] for v in vals[:100]])
        fast = hash64(vals)[:100]
        assert (direct == fast).all()

    def test_int_hashing(self):
        h = hash64(np.arange(100, dtype=np.int64))
        assert len(np.unique(h)) == 100

    def test_double_hash_h2_odd(self):
        _, h2 = double_hash64(np.array(["a", "b"], dtype=object))
        assert (h2 % 2 == 1).all()


# ---------------------------------------------------------------- Bloom

class TestBloom:
    def test_zero_false_negatives(self):
        # fever invariant: every inserted value MUST test positive
        # (processing/bloom_handler_test.go:409-427)
        members = np.array([f"ioc-{i}" for i in range(100_000)], dtype=object)
        bf = BloomFilter(capacity=100_000, fpp=1e-7)  # test params of bloom_handler_test.go:282
        bf.update(members)
        assert bf.contains(members).all()

    def test_fpr_within_bound(self):
        n = 50_000
        bf = BloomFilter(capacity=n, fpp=1e-3)
        members = np.array([f"m{i}" for i in range(n)], dtype=object)
        bf.update(members)
        non_members = np.array([f"x{i}" for i in range(200_000)], dtype=object)
        fpr = bf.contains(non_members).mean()
        assert fpr <= 3 * 1e-3  # 3x slack on the configured bound

    def test_merge_equals_single_build(self):
        a_vals = np.array([f"a{i}" for i in range(1000)], dtype=object)
        b_vals = np.array([f"b{i}" for i in range(1000)], dtype=object)
        whole = BloomFilter(capacity=5000, fpp=1e-4)
        whole.update(np.concatenate([a_vals, b_vals]))
        pa = BloomFilter(capacity=5000, fpp=1e-4)
        pa.update(a_vals)
        pb = BloomFilter(capacity=5000, fpp=1e-4)
        pb.update(b_vals)
        merged = pa.merge(pb)
        assert (merged.bits == whole.bits).all()
        assert merged.n_inserted == whole.n_inserted

    def test_serde_roundtrip(self):
        bf = BloomFilter(capacity=1000, fpp=1e-5, seed=3)
        bf.update(np.array(["p", "q"], dtype=object))
        back = sketch_from_bytes(bf.to_bytes())
        assert isinstance(back, BloomFilter)
        assert (back.bits == bf.bits).all()
        assert back.contains(np.array(["p", "q"], dtype=object)).all()
        assert (back.m, back.k, back.fpp, back.n_inserted) == (bf.m, bf.k, bf.fpp, bf.n_inserted)

    def test_file_save_load_gzip(self, tmp_path):
        # load/save incl. gzip mirrors processing/bloom_handler.go:97-129
        bf = BloomFilter(capacity=100, fpp=1e-8)  # reference default params
        bf.update(np.array(["evil.example.com"], dtype=object))
        plain = tmp_path / "f.bloom"
        gz = tmp_path / "f.bloom.gz"
        colon = tmp_path / "f:1.bloom"  # a bare path, not a URI
        for p in (plain, gz, colon):
            bf.save(str(p))
        for p in (plain, gz, colon):
            got = BloomFilter.load(str(p))
            assert got.contains(np.array(["evil.example.com"], dtype=object)).all()

    def test_failed_save_keeps_previous_file(self, tmp_path, monkeypatch):
        # a save that dies partway (disk full) leaves the previous filter
        # loadable and no temp file behind
        import fever_spark.files as files

        class TornStream:
            def __init__(self, stream):
                self._stream = stream

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                self._stream.close()

            def write(self, data):
                self._stream.write(data[: len(data) // 2])
                raise OSError("No space left on device")

        class TornFS:
            def __init__(self, fs):
                self._fs = fs

            def __getattr__(self, name):
                return getattr(self._fs, name)

            def open_output_stream(self, path, **kw):
                return TornStream(self._fs.open_output_stream(path, **kw))

        real_resolve = files.resolve

        def torn_resolve(path):
            fs, target = real_resolve(path)
            return TornFS(fs), target

        p = tmp_path / "f.bloom.gz"
        old = BloomFilter(capacity=100, fpp=1e-8)
        old.update(np.array(["old.example"], dtype=object))
        old.save(str(p))
        new = BloomFilter(capacity=100, fpp=1e-8)
        new.update(np.array(["new.example"], dtype=object))
        monkeypatch.setattr(files, "resolve", torn_resolve)
        with pytest.raises(OSError, match="No space"):
            new.save(str(p))
        assert [q.name for q in tmp_path.iterdir()] == ["f.bloom.gz"]
        got = BloomFilter.load(str(p))
        assert got.contains(np.array(["old.example"], dtype=object)).all()
        assert not got.contains(np.array(["new.example"], dtype=object)).any()

    def test_load_or_empty_on_corrupt(self, tmp_path):
        # corrupt file → default empty filter (bloom_handler.go:105-129)
        p = tmp_path / "bad.bloom"
        p.write_bytes(b"not a sketch")
        bf = BloomFilter.load_or_empty(str(p))
        assert bf.n_inserted == 0
        assert not bf.contains(np.array(["anything"], dtype=object)).any()

    @staticmethod
    def _truncated(tmp_path):
        # reference default params: small enough to stay uncompressed, so
        # cutting the file keeps a valid header over a short bit array
        bf = BloomFilter(capacity=100, fpp=1e-8)
        bf.update(np.array(["evil.example.com"], dtype=object))
        data = bf.to_bytes()
        p = tmp_path / "cut.bloom"
        p.write_bytes(data[: len(data) // 2])
        return p

    def test_load_truncated_raises(self, tmp_path):
        with pytest.raises(ValueError, match="corrupt sketch state"):
            BloomFilter.load(str(self._truncated(tmp_path)))

    def test_load_cut_inside_header_raises(self, tmp_path):
        # a cut inside the 44-byte Bloom header, not just the bit array
        data = BloomFilter(capacity=100, fpp=1e-8).to_bytes()
        p = tmp_path / "short.bloom"
        p.write_bytes(data[:8 + 20])
        with pytest.raises(ValueError, match="corrupt sketch state"):
            BloomFilter.load(str(p))

    def test_load_zero_hashes_raises(self, tmp_path):
        # k=0 would make contains() report every value present
        bf = BloomFilter(capacity=100, fpp=1e-8)
        data = bytearray(bf.to_bytes())
        struct.pack_into("<I", data, 8 + 16, 0)  # header: n, m, then k
        with pytest.raises(ValueError, match="corrupt sketch state"):
            BloomFilter.from_bytes(with_crc(data))

    def test_load_or_empty_on_truncated(self, tmp_path):
        bf = BloomFilter.load_or_empty(str(self._truncated(tmp_path)))
        default = BloomFilter()
        assert (bf.m, bf.k, bf.n_inserted) == (default.m, default.k, 0)
        assert not bf.contains(
            np.array(["evil.example.com", "x"], dtype=object)).any()

    def test_info(self):
        bf = BloomFilter(capacity=100, fpp=1e-8)
        info = bf.info()
        assert info["capacity"] == 100 and info["k"] >= 1 and info["m"] >= 8


# Each kind as a small state, as written before the CRC32 trailer existed
# (flags 0, or 1 for the zlib one): every one must still load.
_LEGACY_STATES = {
    "bloom": "RlZTSwEBAAAUAAAAAAAAAMAAAAAAAAAABwAAAAAAAAAAAAAAMgAAAAAAAAB7FK5H4XqEP39dt3+/fv//39/63b//+/e////7Gd/vfw==",
    "hll": "RlZTSwECAAAEAAAAAAAAAAAFAQMDAgADAgMKBQICAgIB",
    "hll_zlib": "RlZTSwECAQB4Ae1Vyw6DMAwrY9Mu/P/3Im3lQGKch5R1sHFBtR3nQVCXhp8Jwx29UfaA5JYHQRxO1fGyfHDjK7FTQ5NHWKTrd/wcCfmUNr8VtMIfWhk6hwRJlo1QRqJ8pGH8pyMT4H8bZyN5vlwrt1GeneWLMHF0mnTZLnh3aPBKCLjjzypyBPzGS7eOtre7ouC1cHcYe+fYdVT+dOSTkjG3Om1Dlniyc3ir7P4KLO2kOQX/sprViM6LNRjV0bVIURW2ra0obHxU8lF5C0fJrXXDGuEOgF0BrRAAYg==",
    "cms": "RlZTSwEDAAABAAAACAAAAAAAAAAAAAAAMgAAAAAAAAABBQUGCAYFBgk=",
    "kll": "RlZTSwEEAAAIAAAAMgAAAAAAAAAFVE6TPi2tFgMAAAAAAAAAAQAAAAAAAAAAgEhADAAAAAAAAAAAAPA/AAAAAAAAFEAAAAAAAAAiQAAAAAAAACpAAAAAAAAAMUAAAAAAAAA1QAAAAAAAADlAAAAAAAAAPUAAAAAAAIBAQAAAAAAAgEJAAAAAAACAREAAAAAAAIBGQA==",
    "tdigest": "RlZTSwEFAAAAAAAAAAAkQDIAAAAAAAAAAAAAAAAAAAAGAAAAAAAAAAAA4D8AAAAAAAAYQAAAAAAAgDFAAAAAAAAAQEAAAAAAAABGQAAAAAAAgEhAAAAAAAAAAEAAAAAAAAAiQAAAAAAAACxAAAAAAAAALkAAAAAAAAAiQAAAAAAAAPA/",
    "cmstopk": "RlZTSwEGAAADAAAAAwAAAAAhAAAAAAAAAAEAAAAIAAAAAAAAAAAAAAAyAAAAAAAAAAEFBQYIBgUGCQkAAAAAAAAACQAAAAAAAAAJAAAAAAAAAFsiMzIiLCI0IiwiNDEiXQ==",
    "cmstopk_int": "RlZTSwEGAAADAAAAAwAAAAEhAAAAAAAAAAEAAAAIAAAAAAAAAAAAAAAyAAAAAAAAAAEGBAkGBgYGBwkAAAAAAAAACQAAAAAAAAAJAAAAAAAAABYAAAAAAAAAKAAAAAAAAAAFAAAAAAAAAA==",
    "kmv": "RlZTSwEHAAADAAAAAAAAAAAAAAADAAAAAAAAALeVLNdG6/0AAskE/cuL1wK7zYDwZmUpBgIAAAACAAAAAgAAADE0MzkzMQ==",
}

_CORRUPT_KINDS = ["hll", "cms", "kll", "tdigest", "cmstopk", "cmstopk_int",
                  "kmv", "bloom"]


def _small_state(kind: str) -> bytes:
    """A small uncompressed state of ``kind``, so damage hits its bytes."""
    from fever_spark.sketch.kmv import KMVSketch
    from fever_spark.sketch.topk import CMSTopK

    vals = np.array([str(i) for i in range(500)], dtype=object)
    sk = {"hll": lambda: HyperLogLog(p=10),
          "cms": lambda: CountMinSketch(epsilon=0.05, delta=0.1),
          "kll": lambda: KLLSketch(k=16),
          "tdigest": lambda: TDigest(delta=20),
          "cmstopk": lambda: CMSTopK(epsilon=0.05, delta=0.1, track=8),
          "cmstopk_int": lambda: CMSTopK(epsilon=0.05, delta=0.1, track=8),
          "kmv": lambda: KMVSketch(k=16),
          "bloom": lambda: BloomFilter(capacity=100, fpp=1e-8)}[kind]()
    sk.update(np.arange(500, dtype=np.float64) if kind in ("kll", "tdigest")
              else np.arange(500, dtype=np.int64) if kind == "cmstopk_int"
              else vals)
    data = sk.to_bytes()
    assert data[6] == FLAG_CRC32  # raw payload under a CRC32 trailer
    return data


class TestCorruptState:
    """Damage to a state (its 8-byte envelope header, a zlib-compressed
    payload, a kind header, a payload shorter or longer than its header
    declares, or any flipped byte) raises ValueError, never a zlib, struct
    or numpy error or a silent load."""

    def test_cut_compressed_state_raises(self):
        # a real-size filter serializes zlib-compressed; cutting it leaves
        # a truncated stream, not a short bit array. In a state without
        # the CRC32 trailer the zlib stream itself must end exactly at the
        # payload end: cut or padded, it is corrupt.
        data = BloomFilter(capacity=100000, fpp=1e-6).to_bytes()
        assert data[6] & FLAG_ZLIB
        old = legacy(data)
        for bad in (data[: len(data) // 2], old[: len(old) // 2],
                    old + bytes(8)):
            with pytest.raises(ValueError, match="corrupt sketch state"):
                BloomFilter.from_bytes(bad)
            with pytest.raises(ValueError, match="corrupt sketch state"):
                merge_many([bad, data])

    @pytest.mark.parametrize("n", [0, 4, 7])
    def test_state_shorter_than_header_raises(self, n):
        data = HyperLogLog(p=12).to_bytes()[:n]
        with pytest.raises(ValueError, match="corrupt sketch state"):
            sketch_from_bytes(data)

    @pytest.mark.parametrize("cut", [9, 12, 20, -1, -8, -16, "+8"])
    @pytest.mark.parametrize("kind", _CORRUPT_KINDS)
    def test_cut_state_raises(self, kind, cut):
        # cuts 9/12/20 fall inside (or just past) each kind's own header;
        # -1 drops the last byte, which HLL and KMV used to load silently
        # with too few registers / a shortened sample value; -8/-16 drop
        # whole float64/int64 slots, which KLL, t-digest and int-item
        # CMSTopK used to load silently with a short level / array; +8
        # appends a slot, which they used to load as well
        data = _small_state(kind)
        for bad in (data, legacy(data)):
            bad = bad + bytes(8) if cut == "+8" else bad[:cut]
            with pytest.raises(ValueError, match="corrupt sketch state"):
                sketch_from_bytes(bad)
            with pytest.raises(ValueError, match="corrupt sketch state"):
                merge_many([bad, data])

    @pytest.mark.parametrize("kind", _CORRUPT_KINDS)
    def test_every_cut_and_byte_flip_raises(self, kind):
        data = _small_state(kind)
        for n in range(len(data)):
            with pytest.raises(ValueError):
                sketch_from_bytes(data[:n])
        for i in range(len(data)):
            flipped = bytearray(data)
            flipped[i] ^= 0xFF
            with pytest.raises(ValueError):
                sketch_from_bytes(bytes(flipped))

    @pytest.mark.parametrize("kind", _CORRUPT_KINDS)
    def test_every_cut_of_legacy_state_raises(self, kind):
        # without the trailer only the payload's own lengths can tell
        data = legacy(_small_state(kind))
        for n in range(len(data)):
            with pytest.raises(ValueError, match="corrupt sketch state"):
                sketch_from_bytes(data[:n])

    def test_zeroed_byte_in_raw_filter_raises(self):
        # large filters barely compress and are stored raw: before the
        # CRC32 trailer a zeroed byte loaded and 13 of these IOCs then
        # tested absent, a false negative
        iocs = np.array([f"ioc-{i}.example" for i in range(100_000)],
                        dtype=object)
        bf = BloomFilter(capacity=100_000, fpp=1e-6)
        bf.update(iocs)
        data = bytearray(bf.to_bytes())
        assert data[6] == FLAG_CRC32
        mid = len(data) // 2
        assert data[mid] != 0
        data[mid] = 0
        with pytest.raises(ValueError, match="corrupt sketch state"):
            BloomFilter.from_bytes(bytes(data))

    @pytest.mark.parametrize("kind", sorted(_LEGACY_STATES))
    def test_state_without_crc_still_loads(self, kind):
        data = base64.b64decode(_LEGACY_STATES[kind])
        assert not data[6] & FLAG_CRC32
        payload = data[8:]
        if data[6] & FLAG_ZLIB:
            payload = zlib.decompress(payload)
        sk = sketch_from_bytes(data)
        assert sk._payload_bytes() == payload
        assert sketch_from_bytes(sk.to_bytes())._payload_bytes() == payload

    def test_foreign_bytes_rejected(self):
        # a DataSketches-style preamble, not the FVSK envelope
        with pytest.raises(ValueError, match="bad sketch magic"):
            sketch_from_bytes(bytes([2, 1, 7, 12, 3, 8, 0, 0]) + bytes(32))

    def test_kll_zero_levels_raises(self):
        # a well-sealed KLL header declaring 0 levels: no writer emits it,
        # and loaded it would give quantile() nan and update() IndexError
        from fever_spark.sketch.kll import _HEADER

        envelope = KLLSketch(k=16).to_bytes()[:8]
        data = with_crc(bytearray(envelope + _HEADER.pack(16, 0, 1, 0) + bytes(4)))
        with pytest.raises(ValueError, match="corrupt sketch state"):
            sketch_from_bytes(data)
        with pytest.raises(ValueError, match="corrupt sketch state"):
            merge_many([data, KLLSketch(k=16).to_bytes()])


# ---------------------------------------------------------------- HLL

class TestHLL:
    @pytest.mark.parametrize("true_n", [100, 10_000, 1_000_000])
    def test_error_within_published_bound(self, true_n):
        hll = HyperLogLog(p=14)
        vals = np.array([f"u{i}" for i in range(true_n)], dtype=object)
        hll.update(vals)
        est = hll.estimate()
        # standard error 1.04/sqrt(m); assert within 4 sigma
        assert abs(est - true_n) / true_n <= 4 * hll.relative_error

    def test_duplicates_dont_inflate(self):
        hll = HyperLogLog(p=12)
        vals = np.array([f"d{i % 500}" for i in range(50_000)], dtype=object)
        hll.update(vals)
        assert abs(hll.estimate() - 500) / 500 <= 4 * hll.relative_error

    def test_merge_equals_single_build(self):
        vals = np.array([f"m{i}" for i in range(20_000)], dtype=object)
        whole = HyperLogLog(p=12)
        whole.update(vals)
        parts = [HyperLogLog(p=12) for _ in range(4)]
        for i, part in enumerate(parts):
            part.update(vals[i::4])
        acc = parts[0]
        for part in parts[1:]:
            acc.merge(part)
        assert (acc.registers == whole.registers).all()
        assert acc.estimate() == whole.estimate()

    def test_serde_roundtrip(self):
        hll = HyperLogLog(p=10, seed=5)
        hll.update(np.arange(1000))
        back = sketch_from_bytes(hll.to_bytes())
        assert (back.registers == hll.registers).all()
        assert back.estimate() == hll.estimate()

    def test_empty(self):
        assert HyperLogLog().estimate() == 0.0


# ---------------------------------------------------------------- CMS

class TestCMS:
    def test_never_undercounts(self):
        vals, ids = rand_strings(100_000, 2000)
        cms = CountMinSketch(epsilon=1e-3, delta=1e-3)
        cms.update(vals)
        uniq, true_counts = np.unique(vals, return_counts=True)
        est = cms.estimate(uniq.astype(object))
        assert (est >= true_counts).all()

    def test_overcount_within_epsilon_n(self):
        vals, _ = rand_strings(100_000, 2000)
        cms = CountMinSketch(epsilon=1e-3, delta=1e-3)
        cms.update(vals)
        uniq, true_counts = np.unique(vals, return_counts=True)
        est = cms.estimate(uniq.astype(object))
        over = est - true_counts
        bound = cms.error_bound()
        # eps-delta: P(over > eps*N) < delta per query; allow tiny violation rate
        assert (over <= bound).mean() >= 1 - 10 * cms.delta

    def test_weighted_update(self):
        cms = CountMinSketch(epsilon=1e-4, delta=1e-3)
        cms.update(np.array(["a", "b"], dtype=object), counts=np.array([5, 7]))
        est = cms.estimate(np.array(["a", "b"], dtype=object))
        assert est[0] >= 5 and est[1] >= 7
        assert cms.total == 12

    def test_merge_equals_single_build(self):
        vals, _ = rand_strings(40_000, 500)
        whole = CountMinSketch(epsilon=1e-3, delta=1e-2)
        whole.update(vals)
        pa = CountMinSketch(epsilon=1e-3, delta=1e-2)
        pa.update(vals[:20_000])
        pb = CountMinSketch(epsilon=1e-3, delta=1e-2)
        pb.update(vals[20_000:])
        merged = pa.merge(pb)
        assert (merged.table == whole.table).all()
        assert merged.total == whole.total

    def test_serde_roundtrip(self):
        cms = CountMinSketch(epsilon=1e-3, delta=1e-2, seed=9)
        cms.update(np.array(["x"] * 10, dtype=object))
        back = sketch_from_bytes(cms.to_bytes())
        assert (back.table == cms.table).all() and back.total == cms.total


# ---------------------------------------------------------------- KLL

class TestKLL:
    def test_rank_error_within_bound(self):
        n = 200_000
        vals = RNG.lognormal(6, 1.2, size=n)
        kll = KLLSketch(k=200)
        kll.update(vals)
        eps = kll.rank_error()
        svals = np.sort(vals)
        for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
            est = kll.quantile(q)
            true_rank = np.searchsorted(svals, est, side="right") / n
            assert abs(true_rank - q) <= 1.5 * eps, (q, true_rank, eps)

    def test_weight_conservation(self):
        kll = KLLSketch(k=128)
        kll.update(RNG.normal(size=50_000))
        _, wt = kll._weighted_items()
        assert wt.sum() == kll.n == 50_000

    def test_merge_bound_holds(self):
        n = 100_000
        vals = RNG.exponential(100, size=n)
        parts = [KLLSketch(k=200) for _ in range(8)]
        for i, part in enumerate(parts):
            part.update(vals[i::8])
        acc = parts[0]
        for part in parts[1:]:
            acc.merge(part)
        assert acc.n == n
        svals = np.sort(vals)
        eps = acc.rank_error()
        for q in (0.1, 0.5, 0.9):
            est = acc.quantile(q)
            true_rank = np.searchsorted(svals, est, side="right") / n
            assert abs(true_rank - q) <= 2 * eps

    def test_fixed_order_byte_identical(self):
        # resume verification requires determinism for a FIXED order
        # (SURVEY.md §7.4.1)
        def build():
            s = KLLSketch(k=64, seed=1)
            s.update(np.arange(10_000, dtype=np.float64))
            return s.to_bytes()
        assert build() == build()

    def test_serde_roundtrip(self):
        kll = KLLSketch(k=96)
        kll.update(RNG.normal(size=5000))
        back = sketch_from_bytes(kll.to_bytes())
        assert back.to_bytes() == kll.to_bytes()
        assert back.quantile(0.5) == kll.quantile(0.5)

    def test_quantile_rank_inverse(self):
        kll = KLLSketch()
        kll.update(np.arange(10_000, dtype=np.float64))
        assert abs(kll.rank(kll.quantile(0.3)) - 0.3) < 0.05


# ---------------------------------------------------------------- t-digest

class TestTDigest:
    def test_rank_error_small(self):
        n = 200_000
        vals = RNG.lognormal(6, 1.2, size=n)
        td = TDigest(delta=200)
        td.update(vals)
        svals = np.sort(vals)
        for q in (0.01, 0.1, 0.5, 0.9, 0.99):
            est = td.quantile(q)
            true_rank = np.searchsorted(svals, est, side="right") / n
            # t-digest error scales with q(1-q)/delta; generous envelope
            assert abs(true_rank - q) <= max(0.005, 8 * q * (1 - q) / 200), q

    def test_centroid_count_bounded(self):
        td = TDigest(delta=100)
        td.update(RNG.normal(size=100_000))
        td._flush()
        assert len(td.means) <= 2 * 100  # O(delta) centroids

    def test_weight_conservation(self):
        td = TDigest(delta=100)
        td.update(RNG.normal(size=33_333))
        td._flush()
        assert td.n == 33_333
        assert abs(td.weights.sum() - 33_333) < 1e-6

    def test_merge_bound_holds(self):
        n = 100_000
        vals = RNG.gamma(2, 50, size=n)
        parts = [TDigest(delta=200) for _ in range(8)]
        for i, part in enumerate(parts):
            part.update(vals[i::8])
        acc = parts[0]
        for part in parts[1:]:
            acc.merge(part)
        assert acc.n == n
        svals = np.sort(vals)
        for q in (0.1, 0.5, 0.9):
            est = acc.quantile(q)
            true_rank = np.searchsorted(svals, est, side="right") / n
            assert abs(true_rank - q) <= max(0.01, 10 * q * (1 - q) / 200)

    def test_serde_roundtrip(self):
        td = TDigest(delta=150)
        td.update(RNG.normal(size=10_000))
        back = sketch_from_bytes(td.to_bytes())
        assert (back.means == td.means).all() and (back.weights == td.weights).all()
        assert back.quantile(0.5) == td.quantile(0.5)

    def test_monotone_quantiles(self):
        td = TDigest()
        td.update(RNG.uniform(0, 1000, size=50_000))
        qs = np.linspace(0, 1, 101)
        est = td.quantile(qs)
        assert (np.diff(est) >= 0).all()


class TestHLLSetOps:
    def test_intersection_and_jaccard(self):
        from fever_spark.sketch.hll import (
            intersection_estimate, intersection_error_bound, jaccard_estimate,
            union_estimate)

        rng = np.random.default_rng(5)
        a_vals = rng.choice(200_000, size=50_000, replace=False)
        b_vals = a_vals[:20_000]  # 20k overlap
        b_extra = np.arange(300_000, 330_000)
        a, b = HyperLogLog(p=14), HyperLogLog(p=14)
        a.update(a_vals.astype(np.int64))
        b.update(np.concatenate([b_vals, b_extra]).astype(np.int64))
        true_union = 50_000 + 30_000
        true_inter = 20_000
        assert abs(union_estimate(a, b) - true_union) / true_union \
            <= 4 * a.relative_error
        est_i = intersection_estimate(a, b)
        assert abs(est_i - true_inter) <= 4 * intersection_error_bound(a, b)
        true_j = true_inter / true_union
        assert abs(jaccard_estimate(a, b) - true_j) <= 0.05
        # set ops never mutate their inputs
        before = a.to_bytes()
        union_estimate(a, b); intersection_estimate(a, b)
        assert a.to_bytes() == before

    def test_disjoint_intersection_near_zero(self):
        from fever_spark.sketch.hll import (
            intersection_error_bound, intersection_estimate)

        a, b = HyperLogLog(p=14), HyperLogLog(p=14)
        a.update(np.arange(0, 30_000, dtype=np.int64))
        b.update(np.arange(100_000, 130_000, dtype=np.int64))
        assert intersection_estimate(a, b) <= 4 * intersection_error_bound(a, b)


class TestKMV:
    """Bottom-k sketch: exact-below-k, estimator bound, deterministic
    sample, set-union merge semantics, Jaccard."""

    def test_exact_below_k(self):
        from fever_spark.sketch import KMVSketch

        s = KMVSketch(k=256, seed=3)
        s.update(np.array([f"v{i}" for i in range(100)], dtype=object))
        s.update(np.array([f"v{i}" for i in range(50)], dtype=object))
        assert s.estimate() == 100.0
        assert sorted(s.sample()) == sorted(f"v{i}" for i in range(100))

    def test_estimator_within_bound(self):
        from fever_spark.sketch import KMVSketch

        s = KMVSketch(k=1024, seed=3)
        n = 200_000
        s.update(np.arange(n))
        assert abs(s.estimate() - n) / n <= 3 * s.relative_error

    def test_merge_equals_single_build_byte_identical(self):
        from fever_spark.sketch import KMVSketch

        xs = np.array([f"item{i}" for i in range(5000)], dtype=object)
        a, b, whole = (KMVSketch(k=128, seed=5) for _ in range(3))
        a.update(xs[:3000]); b.update(xs[2000:]); whole.update(xs)
        assert a.copy().merge(b).to_bytes() == whole.to_bytes()

    def test_sample_partition_invariant(self):
        """The sample is a function of the SET, not of how the build was
        partitioned — the property that makes it a valid corpus sample
        through the two-level merge."""
        from fever_spark.sketch import KMVSketch

        xs = np.array([f"doc{i}" for i in range(2000)], dtype=object)
        perm = RNG.permutation(2000)
        a, b = KMVSketch(k=64, seed=9), KMVSketch(k=64, seed=9)
        for chunk in np.array_split(xs, 7):
            a.update(chunk)
        for chunk in np.array_split(xs[perm], 3):
            b.update(chunk)
        assert a.sample() == b.sample()

    def test_serde_round_trip(self):
        from fever_spark.sketch import KMVSketch

        s = KMVSketch(k=32, seed=1)
        s.update(np.array(["α", "b,c", "", "d\nd"], dtype=object))
        rt = sketch_from_bytes(s.to_bytes())
        assert rt.sample() == s.sample()
        assert rt.to_bytes() == s.to_bytes()

    def test_jaccard(self):
        from fever_spark.sketch import KMVSketch, kmv_jaccard

        x, y = KMVSketch(k=512, seed=7), KMVSketch(k=512, seed=7)
        x.update(np.arange(0, 10_000)); y.update(np.arange(5_000, 15_000))
        assert abs(kmv_jaccard(x, y) - 1 / 3) < 0.1

    def test_param_mismatch_raises(self):
        from fever_spark.sketch import KMVSketch

        with pytest.raises(ValueError):
            KMVSketch(k=64, seed=1).merge(KMVSketch(k=64, seed=2))
        with pytest.raises(ValueError):
            KMVSketch(k=64).merge(KMVSketch(k=128))

    def test_set_operation_estimates(self):
        from fever_spark.sketch import (
            KMVSketch, kmv_intersection_estimate, kmv_union_estimate)

        x, y = KMVSketch(k=512, seed=7), KMVSketch(k=512, seed=7)
        x.update(np.arange(0, 10_000)); y.update(np.arange(5_000, 15_000))
        u = kmv_union_estimate(x, y)
        i = kmv_intersection_estimate(x, y)
        assert abs(u - 15_000) / 15_000 < 0.15
        assert abs(i - 5_000) / 5_000 < 0.25


# ------------------------------------------------- round-3 hardening


class TestSeedSerde:
    """Seeds survive serde exactly for the full int range (round-3 ADVICE:
    'I'-packed headers raised struct.error on negative / >= 2^32 seeds —
    e.g. the seed + 0x9E3779B9 derivations — inside executors)."""

    SEEDS = [0, 7, -1, -(2 ** 40), 2 ** 32 + 9, 2 ** 63, 2 ** 64 + 5,
             5 + 0x9E3779B9 + (2 ** 62) * 7]

    @pytest.mark.parametrize("seed", SEEDS)
    def test_all_kinds_roundtrip(self, seed):
        from fever_spark.sketch import KMVSketch

        vals = np.array(["a", "b", "c", "a"], dtype=object)
        for sk in (KMVSketch(k=64, seed=seed),
                   CountMinSketch(epsilon=1e-2, delta=1e-2, seed=seed),
                   HyperLogLog(p=8, seed=seed),
                   BloomFilter(capacity=100, seed=seed),
                   KLLSketch(k=200, seed=seed)):
            sk.update(np.arange(50.0) if isinstance(sk, (KLLSketch, TDigest))
                      else vals)
            blob = sk.to_bytes()
            rt = sketch_from_bytes(blob)
            assert rt.to_bytes() == blob
            if hasattr(sk, "seed"):
                assert rt.seed == sk.seed

    def test_canonical_seed_matches_integer_wrap(self):
        # hash64 wraps integer seeds mod 2^64; canonical_seed must agree so
        # a sketch built pre-serde probes identically post-serde
        from fever_spark.sketch.base import canonical_seed

        vals = np.arange(100, dtype=np.int64)
        assert np.array_equal(hash64(vals, seed=-1),
                              hash64(vals, seed=canonical_seed(-1)))
        assert np.array_equal(hash64(vals, seed=2 ** 64 + 5),
                              hash64(vals, seed=canonical_seed(2 ** 64 + 5)))

    def test_bloom_membership_survives_roundtrip_negative_seed(self):
        bf = BloomFilter(capacity=1000, fpp=1e-4, seed=-3)
        members = np.array([f"ioc{i}" for i in range(500)], dtype=object)
        bf.update(members)
        rt = sketch_from_bytes(bf.to_bytes())
        assert rt.contains(members).all()


class TestMaxStateBytes:
    def test_dense_sketches_equal_fresh_payload(self):
        for sk in (HyperLogLog(p=12), BloomFilter(capacity=10_000)):
            assert sk.max_state_bytes() == len(sk._payload_bytes())
        # CMS ships a NARROWED on-wire dtype; its in-memory bound is the
        # full int64 table
        cms = CountMinSketch(epsilon=1e-3, delta=1e-2)
        assert cms.max_state_bytes() >= cms.depth * cms.width * 8
        assert len(cms._payload_bytes()) < cms.max_state_bytes()

    def test_kmv_provisions_saturated_state(self):
        from fever_spark.sketch import KMVSketch

        sk = KMVSketch(k=1024)
        fresh = len(sk._payload_bytes())
        assert sk.max_state_bytes() > 100 * fresh  # the 4-orders ADVICE gap
        # saturate with realistic URL-ish values and check the bound holds
        sk.update(np.array([f"https://host{i}.example/path/{i}?q={i}"
                            for i in range(5000)], dtype=object))
        assert len(sk._payload_bytes()) <= sk.max_state_bytes()

    def test_growing_sketches_bounded_after_heavy_update(self):
        kll, td = KLLSketch(k=200), TDigest(delta=200)
        data = RNG.normal(0, 1, 200_000)
        kll.update(data)
        td.update(data)
        assert len(kll._payload_bytes()) <= kll.max_state_bytes()
        assert len(td._payload_bytes()) <= td.max_state_bytes()


class TestQuantileMergeMany:
    """KLL/t-digest N-way fast paths (round-3: previously pairwise-only)."""

    def _states(self, cls, n_parts=64, **kw):
        rng = np.random.default_rng(9)
        out = []
        for _ in range(n_parts):
            s = cls(**kw)
            s.update(rng.normal(1000, 250, 20_000))
            out.append(s.to_bytes())
        return out

    @pytest.mark.parametrize("cls,kw", [(KLLSketch, {"k": 200}),
                                        (TDigest, {"delta": 200})])
    def test_fast_path_within_published_bound(self, cls, kw):
        from fever_spark.sketch.base import merge_many

        states = self._states(cls, **kw)
        merged = merge_many(states)
        assert isinstance(merged, cls)
        assert merged.n == 64 * 20_000
        # rank error at the median vs the true normal distribution
        true_median = 1000.0
        r = merged.rank(true_median)
        tol = merged.rank_error() if hasattr(merged, "rank_error") else 0.02
        assert abs(r - 0.5) < max(tol, 0.02) * 3

    @pytest.mark.parametrize("cls,kw", [(KLLSketch, {"k": 200}),
                                        (TDigest, {"delta": 200})])
    def test_fast_path_agrees_with_pairwise(self, cls, kw):
        from fever_spark.sketch.base import merge_many

        states = self._states(cls, n_parts=16, **kw)
        fast = merge_many(states)
        slow = sketch_from_bytes(states[0])
        for b in states[1:]:
            slow.merge(sketch_from_bytes(b))
        assert fast.n == slow.n
        qs = np.array([0.01, 0.25, 0.5, 0.75, 0.99])
        fq, sq = np.atleast_1d(fast.quantile(qs)), np.atleast_1d(slow.quantile(qs))
        # both are approximations of the same data: agree within the bound
        spread = sq.max() - sq.min()
        assert np.all(np.abs(fq - sq) < 0.05 * spread)

    def test_merge_many_param_mismatch_raises(self):
        from fever_spark.sketch.base import merge_many

        a, b = KLLSketch(k=200), KLLSketch(k=256)
        a.update(np.arange(10.0)); b.update(np.arange(10.0))
        with pytest.raises(ValueError):
            merge_many([a.to_bytes(), b.to_bytes()])
        x, y = TDigest(delta=100), TDigest(delta=200)
        x.update(np.arange(10.0)); y.update(np.arange(10.0))
        with pytest.raises(ValueError):
            merge_many([x.to_bytes(), y.to_bytes()])


class TestCMSWireDtype:
    """CMS payload narrows cells to the smallest dtype holding the max
    count (round 3): estimates must be identical through serde and through
    mixed-width merges."""

    def test_roundtrip_each_width(self):
        rng = np.random.default_rng(4)
        for n, expect_bytes in ((100, 1), (300, 2), (70_000, 4)):
            s = CountMinSketch(epsilon=1e-2, delta=1e-2)
            vals = rng.integers(0, 50, size=n)  # hot keys force tall cells
            s.update(vals)
            blob = s.to_bytes()
            rt = sketch_from_bytes(blob)
            assert np.array_equal(rt.table, s.table)
            assert rt.total == s.total
            probe = np.arange(50)
            assert np.array_equal(rt.estimate(probe), s.estimate(probe))

    def test_int64_path_for_negative_cells(self):
        s = CountMinSketch(epsilon=1e-2, delta=1e-2)
        s.update(np.array([1, 2, 3]), counts=np.array([-5, 3, 2]))
        rt = sketch_from_bytes(s.to_bytes())
        assert np.array_equal(rt.table, s.table)

    def test_mixed_width_merge_many(self):
        from fever_spark.sketch.base import merge_many

        a = CountMinSketch(epsilon=1e-2, delta=1e-2)       # uint8 cells
        a.update(np.arange(100))
        b = CountMinSketch(epsilon=1e-2, delta=1e-2)       # uint16 cells
        b.update(np.zeros(1000, dtype=np.int64))
        merged = merge_many([a.to_bytes(), b.to_bytes()])
        ref = a.copy() if hasattr(a, "copy") else None
        expect = a.table + b.table
        assert np.array_equal(merged.table, expect)
        assert merged.total == a.total + b.total
