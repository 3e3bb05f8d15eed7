"""End-to-end distributed pipeline tests: encode -> decode bit-identity under
stable (conv_id, turn_idx) ordering, checkpoint/resume, skew salting,
manifest/lineage integrity. Uses one shared local Spark session."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pytest

from supersonic_spark.datagen import (generate_conv_batch,
                                      generate_transcripts,
                                      generate_transcripts_local)
from supersonic_spark.pipeline import (EncodeConfig, decode_table,
                                       encode_table,
                                       roundtrip_mismatch_count,
                                       salted_repartition)

import pyspark.sql.functions as F


@pytest.fixture(scope="module")
def small_df(spark):
    return generate_transcripts(spark, n_convs=400, seed=42,
                                mega_every=100, mega_len=3000).cache()


def test_datagen_deterministic_and_partition_independent():
    a = generate_transcripts_local(300, seed=42, mega_every=100, mega_len=500)
    b1 = generate_conv_batch(np.arange(0, 120), 42, 100, 500)
    b2 = generate_conv_batch(np.arange(120, 300), 42, 100, 500)
    assert pa.concat_tables([b1, b2]).equals(a)


def test_datagen_schema_and_invariants():
    t = generate_transcripts_local(200, seed=1, mega_every=0, mega_len=0)
    df = t.to_pandas()
    g = df.groupby("conv_id")
    assert (g["ts"].apply(lambda s: s.is_monotonic_increasing)).all()
    assert g["turn_idx"].apply(
        lambda s: (s.values == np.arange(len(s))).all()).all()
    assert set(df["role"].unique()) <= {"system", "user", "assistant", "tool"}
    assert (df.loc[df["role"] != "tool", "tool"].isna()).all()


def test_encode_decode_bit_identity(spark, small_df, tmp_path):
    out = str(tmp_path / "enc")
    cfg = EncodeConfig(n_partitions=8, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    man = encode_table(spark, small_df, out, cfg, fingerprint="t1")
    assert man.count() > 0
    dec = decode_table(spark, out)
    assert dec.count() == small_df.count()
    # bit-identity for every column, not just text
    for col in ["text", "role", "tool", "ts"]:
        assert roundtrip_mismatch_count(small_df, dec, value_col=col) == 0


def test_manifest_lineage(spark, small_df, tmp_path):
    out = str(tmp_path / "enc2")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    man = encode_table(spark, small_df, out, cfg, fingerprint="t2")
    rows = man.collect()
    cols = {r.column for r in rows}
    assert cols == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    assert all(r.bytes_out > 0 and r.n_rows > 0 for r in rows)
    total_in = sum(r.bytes_in for r in rows)
    total_out = sum(r.bytes_out for r in rows)
    assert total_out < total_in, "compressed must beat reference layout"
    # lineage: every non-empty partition has a checkpoint marker
    markers = os.listdir(os.path.join(out, "checkpoints"))
    assert len(markers) == cfg.n_partitions


def test_checkpoint_resume(spark, small_df, tmp_path):
    out = str(tmp_path / "enc3")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    man1 = encode_table(spark, small_df, out, cfg, fingerprint="t3")
    blocks_before = sorted(os.listdir(os.path.join(out, "blocks")))
    mtimes = {p: os.path.getmtime(os.path.join(out, "blocks", p))
              for p in blocks_before}
    man2 = encode_table(spark, small_df, out, cfg, fingerprint="t3")
    assert man2.filter(~F.col("resumed")).count() == 0
    blocks_after = sorted(os.listdir(os.path.join(out, "blocks")))
    assert blocks_before == blocks_after
    for p in blocks_after:  # no re-encode happened
        assert os.path.getmtime(os.path.join(out, "blocks", p)) == mtimes[p]
    # changed config hash -> full re-encode
    man3 = encode_table(spark, small_df, out, cfg, fingerprint="t3-changed")
    assert man3.filter(F.col("resumed")).count() == 0
    dec = decode_table(spark, out)
    assert roundtrip_mismatch_count(small_df, dec) == 0


def test_partial_resume_after_simulated_kill(spark, small_df, tmp_path):
    """Delete some checkpoints (simulating a killed job) -> only those
    partitions re-encode; result still bit-identical."""
    out = str(tmp_path / "enc4")
    cfg = EncodeConfig(n_partitions=6, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    encode_table(spark, small_df, out, cfg, fingerprint="t4")
    ckpts = sorted(os.listdir(os.path.join(out, "checkpoints")))
    for victim in ckpts[:2]:
        os.remove(os.path.join(out, "checkpoints", victim))
    man = encode_table(spark, small_df, out, cfg, fingerprint="t4")
    fresh = man.filter(~F.col("resumed")).select("partition_id").distinct().count()
    resumed = man.filter(F.col("resumed")).select("partition_id").distinct().count()
    assert fresh == 2 and resumed == 4
    dec = decode_table(spark, out)
    assert roundtrip_mismatch_count(small_df, dec) == 0


def test_skew_salting_splits_mega_conversation(spark, small_df):
    cfg = EncodeConfig(n_partitions=8, salt_threshold=1000, salt_block=512)
    arranged = salted_repartition(small_df, cfg)
    with_pid = arranged.withColumn("pid", F.spark_partition_id())
    mega = (with_pid.groupBy("conv_id")
            .agg(F.count("*").alias("n"), F.countDistinct("pid").alias("nparts"))
            .filter(F.col("n") > cfg.salt_threshold).collect())
    assert len(mega) >= 1
    for r in mega:
        assert r.nparts > 1, f"mega conv {r['conv_id']} not split across partitions"


def test_empty_input(spark, tmp_path):
    out = str(tmp_path / "enc5")
    empty = generate_transcripts(spark, n_convs=0)
    cfg = EncodeConfig(n_partitions=2)
    man = encode_table(spark, empty, out, cfg, fingerprint="t5")
    assert man.count() == 0
    dec = decode_table(spark, out)
    assert dec.count() == 0


def test_validate_blocks_detects_corruption(spark, small_df, tmp_path):
    from supersonic_spark.pipeline import validate_blocks
    out = str(tmp_path / "enc6")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    encode_table(spark, small_df, out, cfg, fingerprint="t6")
    audit = validate_blocks(spark, out)
    assert audit.filter(~F.col("ok")).count() == 0
    # flip one byte mid-file -> that chunk (and likely the rest of the
    # file's frame walk) must be flagged
    blk = sorted(os.listdir(os.path.join(out, "blocks")))[0]
    p = os.path.join(out, "blocks", blk)
    data = bytearray(open(p, "rb").read())
    data[len(data) // 2] ^= 0xFF
    open(p, "wb").write(bytes(data))
    bad = validate_blocks(spark, out).filter(~F.col("ok")).count()
    assert bad >= 1


def test_manifest_summary(spark, small_df, tmp_path):
    from supersonic_spark.pipeline import manifest_summary
    out = str(tmp_path / "enc7")
    cfg = EncodeConfig(n_partitions=4, chunk_rows=4096,
                       salt_threshold=1000, salt_block=512)
    man = encode_table(spark, small_df, out, cfg, fingerprint="t7")
    s = manifest_summary(man)
    rows = s.collect()
    assert {r.column for r in rows} >= {"text", "conv_id", "ts"}
    assert all(r.ratio is not None and r.bytes_out > 0 for r in rows)
    text_rows = [r for r in rows if r.column == "text"]
    assert all(r.ratio < 1.0 for r in text_rows)


def test_part_file_naming():
    from supersonic_spark.pipeline import (_bucket_sort_key, _part_id,
                                           _part_name)
    spark_file = ("part-00003-8f1c2b6e-0d4a-4c1e-9f7e-1a2b3c4d5e6f"
                  "-c000.snappy.parquet")
    assert _part_id("/t/buckets/" + spark_file) == 3
    assert _part_name(100000, "-rw1a2b3c4d.parquet") == \
        "part-100000-rw1a2b3c4d.parquet"
    assert _part_id("part-100000-rw1a2b3c4d.parquet") == 100000
    assert _part_id(_part_name(7, ".ssb")) == 7
    assert _part_id("_buckets.json") is None
    names = ["part-100000-a.parquet", "part-99999-b.parquet", spark_file]
    assert sorted(names, key=_bucket_sort_key) == [
        spark_file, "part-99999-b.parquet", "part-100000-a.parquet"]
    # names without a part id keep lexical order
    plain = ["bucket-900.parquet", "bucket-000.parquet", "bucket-010.parquet"]
    assert sorted(plain, key=_bucket_sort_key) == sorted(plain)


def test_partition_ids_at_100000(spark, tmp_path):
    """A six-digit partition id parses as itself on every read path:
    pruned decode (set and join paths), partition-subset decode and the
    block audit."""
    import pyarrow.parquet as pq
    from supersonic_spark.pipeline import validate_blocks
    df = generate_transcripts(spark, n_convs=30, seed=3, mega_every=0)
    out = str(tmp_path / "enc_pid")
    encode_table(spark, df, out, EncodeConfig(n_partitions=1, chunk_rows=64),
                 fingerprint="pid")
    blk = os.path.join(out, "blocks")
    os.rename(os.path.join(blk, "part-00000.ssb"),
              os.path.join(blk, "part-100000.ssb"))
    mdir = os.path.join(out, "manifest")
    man = pq.read_table(mdir)
    i = man.schema.get_field_index("partition_id")
    man = man.set_column(i, man.schema.field(i),
                         pa.array([100000] * man.num_rows, pa.int32()))
    shutil.rmtree(mdir)
    os.makedirs(mdir)
    pq.write_table(man, os.path.join(mdir, "part-0.parquet"))

    def keys(d):
        return sorted((r.conv_id, r.turn_idx) for r in
                      d.select("conv_id", "turn_idx").collect())

    pred = ("turn_idx", 2, 5)
    want = keys(df.filter(F.col("turn_idx").between(2, 5)))
    assert want
    assert keys(decode_table(spark, out, predicate=pred)) == want
    assert keys(decode_table(spark, out, predicate=pred,
                             join_prune_threshold=0)) == want
    assert keys(decode_table(spark, out, partitions=[100000])) == keys(df)
    audit = validate_blocks(spark, out).collect()
    assert len(audit) == man.num_rows // len(df.columns)
    assert all(r.ok and r.partition_id == 100000 for r in audit)


def test_compact_restamps_manifest_size(spark, tmp_path):
    """The merged meta.json carries the merged manifest's row count, not
    the first source's."""
    import pyarrow.parquet as pq
    from supersonic_spark.pipeline import compact_blocks
    srcs = []
    for i, n_convs in enumerate((20, 35)):
        d = str(tmp_path / f"src{i}")
        encode_table(spark, generate_transcripts(spark, n_convs, seed=i,
                                                 mega_every=0),
                     d, EncodeConfig(n_partitions=2, chunk_rows=128),
                     fingerprint=f"src{i}")
        srcs.append(d)
    out = str(tmp_path / "compacted")
    compact_blocks(spark, srcs, out)
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    assert meta["manifest_rows"] == \
        pq.read_table(os.path.join(out, "manifest")).num_rows
