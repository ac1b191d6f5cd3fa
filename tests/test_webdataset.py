"""WebDataset shard ingest tests: the key-split and adjacency
contract, canonical-tarfile roundtrips (plain and gzipped), loud
violations, and the shard-parallel Spark read feeding the real
multimodal decode family."""

from __future__ import annotations

import io
import tarfile

import pytest

from datapipeline_scripts_spark.sources import webdataset as wds


def test_base_plus_ext_contract():
    assert wds.base_plus_ext("000123.jpg") == ("000123", "jpg")
    assert wds.base_plus_ext("a/b/000123.seg.npy") == ("a/b/000123", "seg.npy")
    assert wds.base_plus_ext("d.ir/x.txt") == ("d.ir/x", "txt")  # dot in dirname ok
    with pytest.raises(ValueError, match="no extension"):
        wds.base_plus_ext("no_ext_member")
    with pytest.raises(ValueError, match="no extension"):
        wds.base_plus_ext(".hidden")


@pytest.mark.parametrize("gzipped", [False, True])
def test_shard_roundtrip(gzipped):
    samples = [
        ("000000", {"jpg": b"\xff\xd8fake", "txt": b"a cat", "json": b"{}"}),
        ("000001", {"jpg": b"\xff\xd8more", "txt": b"a dog"}),
        ("sub/000002", {"cls": b"7"}),
    ]
    shard = wds.write_webdataset_shard(samples, gzipped=gzipped)
    assert wds.iter_samples(shard) == samples
    # determinism: identical input → identical bytes
    assert wds.write_webdataset_shard(samples, gzipped=gzipped) == shard


def test_shard_bytes_are_canonical_tar():
    """The member layout must be readable by plain tarfile with the
    exact names/sizes — no private container format."""
    samples = [("k", {"txt": b"hello", "bin": b"\x00\x01"})]
    shard = wds.write_webdataset_shard(samples)
    with tarfile.open(fileobj=io.BytesIO(shard)) as tf:
        names = tf.getnames()
        assert names == ["k.bin", "k.txt"]  # sorted ext order within a sample
        assert tf.extractfile("k.txt").read() == b"hello"


def test_violations_are_loud():
    # key reappearing after another sample: adjacency violation
    samples = [("a", {"txt": b"1"}), ("b", {"txt": b"2"}), ("a", {"cls": b"3"})]
    shard = wds.write_webdataset_shard(samples)
    with pytest.raises(ValueError, match="adjacency"):
        wds.iter_samples(shard)
    # duplicate extension inside one sample (hand-built tar)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for _ in range(2):
            info = tarfile.TarInfo(name="x.txt")
            info.size = 1
            tf.addfile(info, io.BytesIO(b"z"))
    with pytest.raises(ValueError, match="duplicate extension"):
        wds.iter_samples(buf.getvalue())
    with pytest.raises(tarfile.ReadError):
        wds.iter_samples(b"not a tar at all")


def test_directories_are_skipped():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        d = tarfile.TarInfo(name="dir")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
        info = tarfile.TarInfo(name="dir/s.txt")
        info.size = 2
        tf.addfile(info, io.BytesIO(b"ok"))
    assert wds.iter_samples(buf.getvalue()) == [("dir/s", {"txt": b"ok"})]


def test_read_webdataset_shard_parallel(spark, tmp_path):
    """Spark surface: two shards (one .tar, one .tar.gz), one task
    each, sample rows with the ext→binary map — and the image members
    decode through the real stdlib codec family to prove the bytes
    survive tar → Arrow map → worker intact."""
    from datapipeline_scripts_spark.extensions import gif_stdlib as gs

    pal = bytes([10, 10, 10, 200, 200, 200])
    gif = gs.encode_gif(16, 4, pal, (b"\x00" * 8 + b"\x01" * 8) * 4)
    s1 = [
        ("000000", {"gif": gif, "txt": b"left dark right light"}),
        ("000001", {"txt": b"text only"}),
    ]
    s2 = [("000002", {"gif": gif, "cls": b"3"})]
    (tmp_path / "shard-0.tar").write_bytes(wds.write_webdataset_shard(s1))
    (tmp_path / "shard-1.tar.gz").write_bytes(
        wds.write_webdataset_shard(s2, gzipped=True)
    )
    df = wds.read_webdataset(spark, str(tmp_path))
    rows = {r["key"]: r for r in df.collect()}
    assert set(rows) == {"000000", "000001", "000002"}
    assert rows["000001"]["sample_idx"] == 1
    assert bytes(rows["000002"]["files"]["cls"]) == b"3"
    for k in ("000000", "000002"):
        got = bytes(rows[k]["files"]["gif"])
        assert got == gif
        assert gs.gif_decode_gray(got)[2][:8] == bytearray([10] * 8)


def test_ingest_to_curation_pipeline(spark, tmp_path):
    """The pipeline story in one job: WebDataset shards in → sample
    walk → text extraction + exact-normalized dedup + real image dims
    through the stdlib routing — the ingest surfaces feeding the
    curation operators with no intermediate materialization."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from datapipeline_scripts_spark.extensions import gif_stdlib as gs

    pal = bytes([0, 0, 0, 250, 250, 250])
    gif_a = gs.encode_gif(16, 4, pal, (b"\x00" * 8 + b"\x01" * 8) * 4)
    gif_b = gs.encode_gif(8, 2, pal, b"\x01" * 16)
    shard1 = [
        ("00", {"txt": b"The Cat Sat.", "gif": gif_a}),
        ("01", {"txt": b"the cat   sat.", "gif": gif_b}),  # dup after normalize
        ("02", {"txt": b"a different doc", "gif": gif_a}),
    ]
    shard2 = [("03", {"txt": b"THE CAT SAT.", "gif": gif_b})]  # dup again
    (tmp_path / "s1.tar").write_bytes(wds.write_webdataset_shard(shard1))
    (tmp_path / "s2.tar").write_bytes(wds.write_webdataset_shard(shard2))

    samples = wds.read_webdataset(spark, str(tmp_path))

    def feat(batches):
        from datapipeline_scripts_spark.extensions import multimodal as mm

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "key": pdf["key"],
                    "text": [bytes(f["txt"]).decode() for f in pdf["files"]],
                    "width": [
                        mm.decode_dims(bytes(f["gif"]))[0]
                        for f in pdf["files"]
                    ],
                }
            )

    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("width", T.IntegerType()),
        ]
    )
    feats = samples.mapInPandas(feat, schema)
    # exact-normalized dedup: keep the smallest key per normalized text
    norm = F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
    survivors = (
        feats.withColumn("norm", norm)
        .groupBy("norm")
        .agg(F.min("key").alias("key"), F.count("*").alias("n_dups"))
    )
    rows = {r["key"]: r for r in survivors.collect()}
    assert set(rows) == {"00", "02"}
    assert rows["00"]["n_dups"] == 3  # 00, 01, 03 collapse
    widths = {r["key"]: r["width"] for r in feats.collect()}
    assert widths == {"00": 16, "01": 8, "02": 16, "03": 8}
