"""TFRecord shard ingest tests: CRC32C pinned to the canonical check
vectors, masked-CRC framing roundtrip, total corruption detection
(every record carries two CRCs), loud mid-record truncation, gzip
passthrough, the shard-parallel Spark read, and the manifest-backed
record-boundary truncation check — same proof posture as the WARC/
WebDataset/jsonl.zst siblings."""

from __future__ import annotations

import gzip
import random
import struct

import pytest

from datapipeline_scripts_spark.sources import tfrecord as tfr


def test_crc32c_canonical_vectors():
    """RFC 3720 §B.4 check vectors — the proof the table-driven CRC is
    the Castagnoli polynomial and not stdlib's CRC32/IEEE."""
    assert tfr.crc32c(b"123456789") == 0xE3069283
    assert tfr.crc32c(b"\x00" * 32) == 0x8A9136AA
    assert tfr.crc32c(b"\xff" * 32) == 0x62A8AB43
    assert tfr.crc32c(bytes(range(32))) == 0x46DD794E
    assert tfr.crc32c(b"") == 0
    import zlib

    assert tfr.crc32c(b"123456789") != zlib.crc32(b"123456789")


def test_masked_crc_framing_golden():
    """One empty record, built by hand from the spec: the length
    header is 8 zero bytes, whose masked CRC is a pinned constant —
    golden bytes, not just self-roundtrip."""
    shard = tfr.write_tfrecord([b""])
    assert shard[:8] == b"\x00" * 8
    (hcrc,) = struct.unpack("<I", shard[8:12])
    assert hcrc == tfr.masked_crc32c(b"\x00" * 8)
    # masked CRC of 8 zero bytes: rotr15(crc32c(0^8)) + delta
    crc = tfr.crc32c(b"\x00" * 8)
    assert hcrc == (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF
    assert tfr.parse_tfrecord(shard) == [b""]


def test_roundtrip_and_determinism():
    recs = [b"alpha", b"", b"\x00\x01\x02" * 100, "päyload😀".encode()]
    shard = tfr.write_tfrecord(recs)
    assert tfr.parse_tfrecord(shard) == recs
    assert tfr.write_tfrecord(recs) == shard  # byte-identical rewrite


@pytest.mark.parametrize("seed", range(10))
def test_random_streams(seed):
    """Seeded generative sweep: random record populations (including
    bytes that LOOK like headers) roundtrip exactly; flipping any
    single byte of the stream refuses loudly."""
    rnd = random.Random(9100 + seed)
    recs = [
        bytes(rnd.randrange(256) for _ in range(rnd.randint(0, 400)))
        for _ in range(rnd.randint(1, 12))
    ]
    shard = tfr.write_tfrecord(recs)
    assert tfr.parse_tfrecord(shard) == recs
    # total corruption detection: any byte flip trips a CRC (or, for
    # a length-header flip, a truncation/CRC error) — never silence
    pos = rnd.randrange(len(shard))
    corrupt = bytearray(shard)
    corrupt[pos] ^= 0x40
    with pytest.raises(ValueError, match="CRC mismatch|truncated"):
        tfr.parse_tfrecord(bytes(corrupt), where="sweep")


def test_mid_record_truncation_is_loud():
    shard = tfr.write_tfrecord([b"hello", b"world"])
    for cut in (5, 11, 12, 15, len(shard) - 1):
        with pytest.raises(ValueError, match="truncated|CRC"):
            tfr.parse_tfrecord(shard[:cut], where="t")
    # record-boundary truncation parses cleanly — the documented
    # limitation the manifest check exists for
    boundary = len(tfr.write_tfrecord([b"hello"]))
    assert tfr.parse_tfrecord(shard[:boundary]) == [b"hello"]


def test_gzip_passthrough():
    recs = [b"a" * 50, b"b" * 50]
    shard = tfr.write_tfrecord(recs)
    assert tfr.parse_tfrecord(gzip.compress(shard)) == recs
    with pytest.raises(ValueError, match="gzip"):
        tfr.parse_tfrecord(gzip.compress(shard)[:-4], where="g")


def test_read_tfrecord_shard_parallel(spark, tmp_path):
    """Spark surface: three shards (plain, gzip, single-record) — one
    task each via binaryFile, stable (shard, record_idx) identity,
    record bytes intact through the Arrow boundary."""
    (tmp_path / "s0.tfrecord").write_bytes(
        tfr.write_tfrecord([b"r0", b"r1", b"r2"])
    )
    (tmp_path / "s1.tfrecord.gz").write_bytes(
        gzip.compress(tfr.write_tfrecord([b"\x00\xffbin"]))
    )
    (tmp_path / "s2.tfrecord").write_bytes(tfr.write_tfrecord([b"solo"]))
    (tmp_path / "ignore.bin").write_bytes(b"\x00\x01")

    df = tfr.read_tfrecord(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 5
    by_key = {(r["shard"].rsplit("/", 1)[-1], r["record_idx"]): bytes(r["record"]) for r in rows}
    assert by_key[("s0.tfrecord", 2)] == b"r2"
    assert by_key[("s1.tfrecord.gz", 0)] == b"\x00\xffbin"
    assert by_key[("s2.tfrecord", 0)] == b"solo"


def test_expected_records_manifest_catches_boundary_truncation(spark, tmp_path):
    """Same contract as read_warc/read_jsonl_zst (ADVICE r08): a shard
    cut exactly at a record boundary parses cleanly with fewer records
    — only a manifest can make that loud."""
    full = tfr.write_tfrecord([b"a", b"b", b"c"])
    cut = tfr.write_tfrecord([b"a"])  # == full truncated at a boundary
    (tmp_path / "full.tfrecord").write_bytes(full)
    (tmp_path / "cut.tfrecord").write_bytes(cut)

    good = {"full.tfrecord": 3, "cut.tfrecord": 1}
    assert tfr.read_tfrecord(spark, str(tmp_path), expected_records=good).count() == 4

    with pytest.raises(Exception, match="manifest expects 3"):
        tfr.read_tfrecord(
            spark, str(tmp_path),
            expected_records={"full.tfrecord": 3, "cut.tfrecord": 3},
        ).count()

    with pytest.raises(Exception, match="missing from expected_records manifest"):
        tfr.read_tfrecord(
            spark, str(tmp_path), expected_records={"cut.tfrecord": 1}
        ).count()


def test_gzip_magic_collision_with_raw_length_parses_raw():
    """ADVICE r09 (low): a valid UNCOMPRESSED shard whose first record
    length has low bytes 0x8B1F starts with the 2-byte gzip magic.
    The strengthened sniff (byte 2 must be 0x08, the only defined
    gzip method) must parse it as raw TFRecord, not refuse it."""
    rec = b"x" * 0x8B1F  # little-endian length bytes: 1F 8B 00 ...
    shard = tfr.write_tfrecord([rec])
    assert shard[:2] == b"\x1f\x8b" and shard[2] != 0x08
    assert tfr.parse_tfrecord(shard, where="collide") == [rec]


def test_gzip_three_byte_collision_falls_back_to_raw():
    """The residual window: first record length ≡ 0x088B1F (~9 MB) —
    all three sniff bytes match gzip. gzip.decompress fails, and the
    parser must fall back to the raw CRC-verified walk."""
    rec = b"y" * 0x088B1F
    shard = tfr.write_tfrecord([rec])
    assert shard[:3] == b"\x1f\x8b\x08"
    got = tfr.parse_tfrecord(shard, where="collide3")
    assert len(got) == 1 and got[0] == rec


def test_corrupt_gzip_still_loud():
    """A genuinely corrupt gzip payload (magic-matched, raw walk also
    fails) must still refuse with the gzip error, not mis-parse."""
    shard = gzip.compress(tfr.write_tfrecord([b"abc"]))
    broken = shard[:-4] + b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="gzip"):
        tfr.parse_tfrecord(broken, where="g")
