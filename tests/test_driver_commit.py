"""Driver-staged commits: uploads of driver-resident arrays are staged
on the driver (pyarrow through PathOps) instead of through a Spark job.
Every reader — Spark and pyarrow — and every table-maintenance verb
must see exactly what numpy says was written, on a plain path and on a
``file://`` URI (PathOps' Hadoop FileSystem branch)."""

import os
import sys
import uuid

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_volume_spark.catalog import VolumeInfo
from cloud_volume_spark.codecs import decode, decompress_stream
from cloud_volume_spark.geometry import Bbox
from cloud_volume_spark.volume import CHUNK_SCHEMA, Volume

SHAPE = (64, 64, 32)
CHUNK = (16, 16, 16)
U64 = (1 << 64) - 1


def _new_volume(spark, base, kind, rng):
    """A 4x4x2-chunk volume with 4 chunks per slab (8 slabs), filled by
    one aligned upload; returns (vol, truth)."""
    if kind == "image":
        dtype, layer = np.uint8, "image"
        truth = rng.integers(0, 255, SHAPE, dtype=np.uint8)
    else:
        dtype, layer = np.uint64, "segmentation"
        # labels above the signed range: stored as negative longs in
        # labels_stats, read back unsigned
        truth = ((1 << 63) + rng.integers(1, 40, SHAPE)).astype(np.uint64)
    info = VolumeInfo.create(
        layer_type=layer, data_type=np.dtype(dtype).name, num_channels=1,
        resolution=(1, 1, 1), voxel_offset=(0, 0, 0), volume_size=SHAPE,
        chunk_size=CHUNK, encoding="raw")
    vol = Volume.create(spark, base, info, slab_shift=2)
    vol.upload(truth[..., None], offset=(0, 0, 0))
    return vol, truth


def _paint(vol, truth, rng, lo, hi, how="upload"):
    patch = rng.integers(1, 200, [b - a for a, b in zip(lo, hi)])
    if truth.dtype == np.uint64:
        patch = patch.astype(np.uint64) + np.uint64(1 << 63)
    patch = patch.astype(truth.dtype)
    sl = tuple(slice(a, b) for a, b in zip(lo, hi))
    if how == "upload":
        vol.upload(patch[..., None], offset=lo)
    else:
        vol[sl] = patch
    truth[sl] = patch


def _decode_rows(vol, rows):
    """{(x0, y0, z0): decoded chunk} for encoded chunk rows."""
    out = {}
    for r in rows:
        shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, 1)
        raw = decompress_stream(bytes(r.blob), r.compression or None)
        out[(r.x0, r.y0, r.z0)] = decode(raw, r.encoding, shape, vol.dtype)
    return out


def _assert_chunks_match(vol, rows, truth, expect_n=None):
    chunks = _decode_rows(vol, rows)
    if expect_n is not None:
        assert len(chunks) == expect_n
    for (x0, y0, z0), arr in chunks.items():
        sx, sy, sz = arr.shape[:3]
        assert np.array_equal(arr[..., 0],
                              truth[x0:x0 + sx, y0:y0 + sy, z0:z0 + sz])


def _assemble_blocks(vol, df):
    out = np.zeros(SHAPE, dtype=vol.dtype)
    for r in df.collect():
        shape = (r.z1 - r.z0, r.y1 - r.y0, r.x1 - r.x0)
        out[r.x0:r.x1, r.y0:r.y1, r.z0:r.z1] = (
            np.frombuffer(r.blob, dtype=vol.dtype).reshape(shape).transpose())
    return out


def _labels(values):
    return {int(v) & U64 for v in values}


def _check_readers(vol, truth):
    whole = Bbox((0, 0, 0), SHAPE)
    n_chunks = 4 * 4 * 2
    # Spark scans
    _assert_chunks_match(vol, vol.chunks_df().collect(), truth, n_chunks)
    assert np.array_equal(_assemble_blocks(vol, vol.blocks_df()), truth)
    # pyarrow fetch (local fragments, including file:// tables)
    rows = vol._collect_encoded_rows(
        whole, 0, ["x0", "x1", "y0", "y1", "z0", "z1",
                   "encoding", "compression", "blob"])
    assert rows is not None
    _assert_chunks_match(vol, rows, truth, n_chunks)
    assert np.array_equal(vol.cutout(whole)[..., 0], truth)
    # unique: interior chunks answer from labels_stats
    box = Bbox((8, 8, 0), (56, 40, 32))
    sl = tuple(slice(a, b) for a, b in zip(box.minpt, box.maxpt))
    assert _labels(r.label for r in vol.unique(box).collect()) == \
        _labels(np.unique(truth[sl]))


def _read_voxels(vol, truth, pts):
    for p in pts:
        assert int(vol.read_voxel(p)[0]) == int(truth[p])


@pytest.mark.parametrize("kind", ["image", "segmentation"])
@pytest.mark.parametrize("scheme", ["plain", "file"])
def test_driver_staged_slabs_match_every_reader(spark, tmp_path, rng,
                                                kind, scheme):
    base = str(tmp_path / f"dsc_{kind}")
    if scheme == "file":
        base = "file://" + base
    vol, truth = _new_volume(spark, base, kind, rng)
    pts = [(0, 0, 0), (20, 33, 5), (63, 63, 31), (40, 10, 20)]
    vol.enable_lru()
    _read_voxels(vol, truth, pts)  # fills the LRU

    g0 = int(vol._read_manifest()["generation"])
    # unaligned read-modify-writes across chunk and slab boundaries,
    # a padded write and a slice assignment
    _paint(vol, truth, rng, (10, 30, 3), (37, 45, 20))
    _paint(vol, truth, rng, (50, 2, 14), (64, 20, 32))
    pad = rng.integers(1, 200, (10, 10, 10)).astype(truth.dtype)
    vol.upload_with_overwrite_partial_chunks(pad[..., None], (18, 50, 2))
    truth[16:32, 48:64, 0:16] = vol.info.background_color()
    truth[18:28, 50:60, 2:12] = pad
    _paint(vol, truth, rng, (0, 0, 0), (5, 6, 7), how="setitem")

    # every commit invalidated the LRU: voxel reads see the new data
    _read_voxels(vol, truth, pts)
    _read_voxels(vol, truth, pts)  # now from the LRU
    _check_readers(vol, truth)

    # the change feed: batch diff, changed chunks and the stream agree
    changed = {(r.mip, r.slab): r for r in vol.changes(g0).collect()}
    assert changed and all(r.change == "rewritten" for r in changed.values())
    man = vol._read_manifest()
    assert {f"{m}/{s}": r.to_dir for (m, s), r in changed.items()} == {
        k: v for k, v in man["entries"].items()
        if tuple(int(p) for p in k.split("/")) in changed}
    rows = vol.changed_chunks_df(g0).collect()
    assert {r.slab for r in rows} == {s for (_, s) in changed}
    _assert_chunks_match(vol, rows, truth, 4 * len(changed))

    sink, ck = str(tmp_path / f"feed_{kind}"), str(tmp_path / f"ck_{kind}")
    q = (vol.stream_changes().writeStream.format("parquet")
         .trigger(availableNow=True).option("checkpointLocation", ck)
         .option("path", sink).start())
    q.awaitTermination(120)
    streamed = {(r.generation, r.mip, r.slab): r.change
                for r in spark.read.parquet(sink).collect()}
    want = {}
    for g in sorted(vol._manifest_generations()):
        for r in vol.changes(g - 1, g).collect():
            want[(g, r.mip, r.slab)] = r.change
    assert streamed == want

    # maintenance: driver-staged slabs are single files (nothing to
    # compact); fsck is clean; vacuum keeps the head servable
    assert vol.compact() == 0
    report = vol.fsck()
    assert report["ok"] and not report["orphan_dirs"], report
    vol.vacuum(keep_manifests=1)
    assert vol.fsck()["ok"]
    _check_readers(vol, truth)
    reopened = Volume.open(spark, base)
    assert np.array_equal(reopened.cutout(Bbox((0, 0, 0), SHAPE))[..., 0],
                          truth)


def test_driver_staged_layout_matches_spark(spark, tmp_path, rng):
    """The driver writes the file layout the Spark stager writes: the
    CHUNK_SCHEMA Arrow schema (non-null fields, ``labels_stats`` as
    list<int64>), uncompressed, morton-sorted, one row group per
    ~16 MB commit bucket, and no statistics on ``blob``."""
    import pyarrow.parquet as pq

    vol, truth = _new_volume(spark, str(tmp_path / "lay"), "segmentation",
                             rng)
    twin = Volume.create(spark, str(tmp_path / "lay_spark"), vol.info,
                         slab_shift=2)
    # the Spark stager, fed the way uploads fed it: rows built on the
    # driver under CHUNK_SCHEMA (a parquet scan would be all-nullable)
    twin._overwrite_slabs(spark.createDataFrame(
        vol.chunks_df().collect(), schema=CHUNK_SCHEMA))

    def files(v):
        man = v._read_manifest()
        return {k: [os.path.join(v.chunks_path, rel, n)
                    for n in sorted(os.listdir(os.path.join(v.chunks_path, rel)))
                    if n.endswith(".parquet")]
                for k, rel in man["entries"].items()}

    driver, spark_files = files(vol), files(twin)
    assert driver.keys() == spark_files.keys()
    for key, (path,) in driver.items():
        assert path.endswith("/part-00000.parquet")
        pf = pq.ParquetFile(path)
        ref = pq.ParquetFile(spark_files[key][0])
        assert pf.schema_arrow.remove_metadata().equals(
            ref.schema_arrow.remove_metadata())
        tbl = pf.read()
        assert tbl.column("morton").to_pylist() == sorted(
            tbl.column("morton").to_pylist())
        meta = pf.metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                assert col.compression == "UNCOMPRESSED"
                if col.path_in_schema == "blob":
                    assert not (col.is_stats_set
                                and col.statistics.has_min_max)
                elif col.path_in_schema == "morton":
                    assert col.statistics.has_min_max

    # the bucket: the smallest power of two of chunks holding ~16 MB,
    # at most a slab
    def bucket_shift(chunk, slab_shift):
        info = VolumeInfo.create(
            layer_type="image", data_type="uint8", num_channels=1,
            resolution=(1, 1, 1), voxel_offset=(0, 0, 0),
            volume_size=(1024, 1024, 128), chunk_size=chunk, encoding="raw")
        return Volume(spark, str(tmp_path / "unused"), info,
                      slab_shift=slab_shift)._commit_bucket_shift()

    assert bucket_shift((128, 128, 64), 6) == 4  # 1 MB chunks: 16 per group
    assert bucket_shift((16, 16, 16), 6) == 6  # tiny chunks: a whole slab
    assert bucket_shift((512, 512, 128), 6) == 0  # 32 MB chunks: one each

    # a slab spanning several buckets gets one row group per bucket
    vol._commit_bucket_shift = lambda: 1
    _paint(vol, truth, rng, (0, 0, 0), (16, 16, 16))
    (path,) = files(vol)["0/0"]
    meta = pq.ParquetFile(path).metadata
    mortons = [c for c in range(meta.num_columns)
               if meta.row_group(0).column(c).path_in_schema == "morton"]
    groups = [(meta.row_group(g).column(mortons[0]).statistics.min,
               meta.row_group(g).column(mortons[0]).statistics.max)
              for g in range(meta.num_row_groups)]
    assert groups == [(0, 1), (2, 3)]
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), SHAPE))[..., 0], truth)


def _job_ids(sc, group):
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_commit_launches_no_spark_job(spark, tmp_path, rng):
    """An unaligned upload into an existing manifest volume, and a
    delete_black_uploads rewrite that empties slabs, run no Spark job;
    the emptied slabs leave the manifest."""
    vol, truth = _new_volume(spark, str(tmp_path / "jobs"), "image", rng)
    sc = spark.sparkContext
    group = f"driver-commit-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "driver-staged commit")
    try:
        vol.chunks_df().count()  # the counter sees this thread's jobs
        seen = _job_ids(sc, group)
        assert seen

        _paint(vol, truth, rng, (3, 17, 5), (30, 40, 21))
        assert _job_ids(sc, group) == seen

        # chunks (0..1, 0..1, 0..1) are mortons 0..7: slabs 0 and 1
        g = int(vol._read_manifest()["generation"])
        black = np.zeros((32, 32, 32, 1), np.uint8)
        vol.upload(black, offset=(0, 0, 0), delete_black_uploads=True)
        assert _job_ids(sc, group) == seen
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    truth[:32, :32, :32] = 0
    man = vol._read_manifest()
    assert int(man["generation"]) == g + 1
    assert "0/0" not in man["entries"] and "0/1" not in man["entries"]
    assert len(man["entries"]) == 6
    assert np.array_equal(
        vol.cutout(Bbox((0, 0, 0), SHAPE), fill_missing=True)[..., 0], truth)
    assert not any(vol.exists(Bbox((0, 0, 0), (32, 32, 32))).values())
