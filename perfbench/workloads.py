"""The three workloads: inputs from the seed, one closed-loop cycle,
and the numpy / DuckDB truth every result is checked against.

A workload class provides

- ``stage(rng)`` — one set-up repetition (inputs + ground truth);
  run several times, the median counts in ``setup_s``;
- ``warmup()`` — untimed first use, so lazy set-up is not measured;
- ``cycle(run, rng)`` — one closed-loop cycle of timed ops, each issued
  through ``run.op`` and checked through ``run.check``;
- ``MAIN`` / ``BULK`` / ``TAIL`` — which op kinds the generic
  end-to-end metrics are taken over (see README.md).
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import numpy as np
import pandas as pd

import datagen
from cloud_volume_spark import Bbox, Volume
from cloud_volume_spark.catalog import VolumeInfo
from cloud_volume_spark.operators import all_queries
from cloud_volume_spark.operators.dedup import (
    clear_cluster_cache, clear_lsh_index_cache)
from cloud_volume_spark.operators.similarity import (
    clear_ivf_index_cache, clear_kmeans_cache)
from cloud_volume_spark.volume import BLOCK_SCHEMA
from oracle import ROSTER, digest, load_expected

MB = 1e6
# BASELINE.md's chunk geometry (256x256x50, raw + gzip) on a quarter of
# its 1024x1024 xy extent, so set-up fits the benchmark's run budget
VOL_SHAPE = (512, 512, 100)
VOL_CHUNK = (256, 256, 50)
PT_SHAPE = (256, 256, 128)
PT_CHUNK = (64, 64, 64)
UNALIGNED = (192, 192, 40)
UNIQUE_BOX = (200, 200, 40)
UPLOAD_BOX = (100, 100, 20)
WARM_CHUNK = (32, 32, 8)


def image_truth(rng, shape):
    """Uniform-noise uint8 image (gzip's worst case, as in bench.py)."""
    return rng.integers(0, 255, size=shape, dtype=np.uint8)


def seg_truth(rng, shape, cell):
    """Piecewise-constant uint16 labels in ``cell``-sized blocks."""
    cells = rng.integers(1, 60000, size=tuple(s // c for s, c in zip(shape, cell)),
                         dtype=np.uint16)
    return np.kron(cells, np.ones(cell, dtype=np.uint16))


def labels_of(sub: np.ndarray) -> set:
    return set(np.flatnonzero(np.bincount(sub.ravel(), minlength=1)).tolist())


def block_reduce_mean(a: np.ndarray) -> np.ndarray:
    """2x2x1 mean, truncated to the dtype (the engine's image rule)."""
    x, y, z = a.shape
    return a.reshape(x // 2, 2, y // 2, 2, z).mean(axis=(1, 3)).astype(a.dtype)


def crossing_box(rng, size, cross=()):
    """A seeded box of ``size`` that crosses one chunk boundary on each
    axis in ``cross`` and lies inside one chunk on the others, so the
    chunks it touches (2 ** len(cross)) do not depend on the seed."""
    lo = []
    for ax in range(3):
        cs, n = VOL_CHUNK[ax], VOL_SHAPE[ax] // VOL_CHUNK[ax]
        if ax in cross:
            edge = int(rng.integers(1, n)) * cs
            lo.append(int(rng.integers(edge - size[ax] + 1, edge)))
        else:
            lo.append(int(rng.integers(0, n)) * cs
                      + int(rng.integers(0, cs - size[ax] + 1)))
    return lo, [a + s for a, s in zip(lo, size)]


def blocks_frame(spark, arr: np.ndarray, chunk):
    """Grid-aligned raw blocks of ``arr``, materialized in Spark's cache
    so a timed ``write_blocks_df`` reads them rather than making them."""
    rows = []
    for z0 in range(0, arr.shape[2], chunk[2]):
        for y0 in range(0, arr.shape[1], chunk[1]):
            for x0 in range(0, arr.shape[0], chunk[0]):
                b = arr[x0:x0 + chunk[0], y0:y0 + chunk[1], z0:z0 + chunk[2]]
                rows.append((x0, x0 + b.shape[0], y0, y0 + b.shape[1],
                             z0, z0 + b.shape[2], b.tobytes(order="F")))
    pdf = pd.DataFrame(rows, columns=["x0", "x1", "y0", "y1", "z0", "z1", "blob"])
    df = spark.createDataFrame(pdf, schema=BLOCK_SCHEMA).repartition(len(rows)).cache()
    df.count()
    return df


def new_volume(spark, path, dtype, layer, shape, chunk):
    info = VolumeInfo.create(
        layer_type=layer, data_type=dtype, num_channels=1,
        resolution=(1, 1, 1), voxel_offset=(0, 0, 0),
        volume_size=shape, chunk_size=chunk, encoding="raw")
    return Volume.create(spark, path, info)


def files_under(path: str) -> dict:
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs}


def stored_bytes(path: str) -> int:
    return sum(files_under(path).values())


class Workload:
    def __init__(self, spark, work: str):
        self.spark, self.work, self.reps = spark, work, 0

    def fresh_dir(self) -> str:
        """A new staging directory; the previous repetition's is removed."""
        self.reps += 1
        shutil.rmtree(os.path.join(self.work, f"stage{self.reps - 1}"),
                      ignore_errors=True)
        d = os.path.join(self.work, f"stage{self.reps}")
        os.makedirs(d)
        return d

    def corrupted_is_caught(self) -> bool:
        """The cutout check accepts the truth and rejects it with one
        voxel flipped."""
        out = self.vols["img"].cutout(Bbox((0, 0, 0), (40, 40, 10)))[..., 0]
        good = self.truth["img"][:40, :40, :10]
        bad = good.copy()
        bad[1, 2, 3] ^= 1
        return np.array_equal(out, good) and not np.array_equal(out, bad)


class CutoutRead(Workload):
    """Serving path: cutouts, ``unique`` and LRU point reads on prebuilt
    volumes. Driver-side decode, the manifest + pyarrow fetch, the LRU."""

    MAIN, BULK, TAIL = "point", ("cutout",), 90
    POINTS_PER_CYCLE = 100

    def stage(self, rng):
        d = self.fresh_dir()
        self.truth = {
            "img": image_truth(rng, VOL_SHAPE),
            "seg": seg_truth(rng, VOL_SHAPE, (16, 16, 10)),
            "pt": seg_truth(rng, PT_SHAPE, (8, 8, 8)),
        }
        self.vols = {}
        for key, chunk, layer in (("img", VOL_CHUNK, "image"),
                                  ("seg", VOL_CHUNK, "segmentation"),
                                  ("pt", PT_CHUNK, "segmentation")):
            self.vols[key] = Volume.from_numpy(
                self.spark, self.truth[key][..., None], os.path.join(d, key),
                chunk_size=chunk, layer_type=layer)
        # LRU holds about a quarter of the point volume's encoded chunks
        self.vols["pt"].enable_lru(max_bytes=stored_bytes(os.path.join(d, "pt")) // 4)
        grid = [s // c for s, c in zip(PT_SHAPE, PT_CHUNK)]
        n = int(np.prod(grid))
        # Zipf-skewed chunk popularity over a seeded chunk order
        w = 1.0 / np.arange(1, n + 1) ** 1.2
        self.pt_prob = w / w.sum()
        self.pt_order = rng.permutation(n)
        self.pt_grid = grid

    def warmup(self):
        for key in ("img", "seg"):
            self.vols[key].cutout(Bbox((0, 0, 0), VOL_CHUNK))
        self.vols["seg"].unique(Bbox((0, 0, 0), (300, 300, 60))).toPandas()

    def _point(self, rng):
        c = int(self.pt_order[rng.choice(len(self.pt_prob), p=self.pt_prob)])
        gx, gy, _ = self.pt_grid
        cx, cy, cz = c % gx, (c // gx) % gy, c // (gx * gy)
        return tuple(int(rng.integers(0, PT_CHUNK[i])) + (cx, cy, cz)[i] * PT_CHUNK[i]
                     for i in range(3))

    def cycle(self, run, rng):
        """Fixed op mix per cycle (sizes and chunk counts fixed, positions
        seeded): per volume one aligned chunk, unaligned boxes over two
        and four chunks, and the full volume (eight); one ``unique`` over
        four boundary chunks; the point reads."""
        grid = [s // c for s, c in zip(VOL_SHAPE, VOL_CHUNK)]
        ops = []
        for key in ("img", "seg"):
            c0 = [int(rng.integers(0, g)) * c for g, c in zip(grid, VOL_CHUNK)]
            ops.append(("cutout", key, (c0, [a + c for a, c in zip(c0, VOL_CHUNK)])))
            ops.append(("cutout", key, crossing_box(rng, UNALIGNED, (0,))))
            ops.append(("cutout", key, crossing_box(rng, UNALIGNED, (0, 1))))
            ops.append(("cutout", key, ([0, 0, 0], list(VOL_SHAPE))))
        ops.append(("unique", "seg", crossing_box(rng, UNIQUE_BOX, (0, 1))))
        ops += [("point", "pt", self._point(rng))
                for _ in range(self.POINTS_PER_CYCLE)]
        for i in rng.permutation(len(ops)):
            kind, key, arg = ops[i]
            vol, truth = self.vols[key], self.truth[key]
            if kind == "cutout":
                lo, hi = arg
                sl = tuple(slice(a, b) for a, b in zip(lo, hi))
                out = run.op("cutout", lambda: vol.cutout(Bbox(lo, hi)),
                             mb=truth[sl].nbytes / MB)
                run.check(out is not None and np.array_equal(out[..., 0], truth[sl]))
            elif kind == "unique":
                lo, hi = arg
                sl = tuple(slice(a, b) for a, b in zip(lo, hi))
                out = run.op("unique", lambda: vol.unique(Bbox(lo, hi)).toPandas())
                run.check(out is not None
                          and set(out["label"].tolist()) == labels_of(truth[sl]))
            else:
                out = run.op("point", lambda: vol.read_voxel(arg))
                run.check(out is not None and int(out[0]) == int(truth[arg]))


class IngestWrite(Workload):
    """Write path: full-volume ``write_blocks_df`` from materialized
    blocks, unaligned ``upload`` read-modify-writes, one ``downsample``
    and a ``vacuum`` per cycle. Python-worker encode, the manifest
    commit protocol, ``fs``."""

    MAIN, BULK, TAIL = "upload", ("write",), None
    # rounds per cycle; each writes both volumes in full, then uploads
    # one box into each
    ROUNDS = 3

    def stage(self, rng):
        d = self.fresh_dir()
        for df in getattr(self, "blocks", {}).values():
            df.unpersist()
        self.base = {"img": image_truth(rng, VOL_SHAPE),
                     "seg": seg_truth(rng, VOL_SHAPE, (16, 16, 10))}
        self.blocks = {k: blocks_frame(self.spark, a, VOL_CHUNK)
                       for k, a in self.base.items()}
        self.vols = {
            "img": new_volume(self.spark, os.path.join(d, "img"), "uint8",
                              "image", VOL_SHAPE, VOL_CHUNK),
            "seg": new_volume(self.spark, os.path.join(d, "seg"), "uint16",
                              "segmentation", VOL_SHAPE, VOL_CHUNK),
        }
        self.truth = {k: a.copy() for k, a in self.base.items()}
        self.stored_ratio = None

    def warmup(self):
        """First use of each write path (Python workers, JIT) on a small
        scratch volume of the same layout. What first use is left on the
        cycle's first round of writes the median per volume discards."""
        shape = tuple(2 * c for c in WARM_CHUNK)
        vol = new_volume(self.spark, os.path.join(self.work, "warm"), "uint8",
                         "image", shape, WARM_CHUNK)
        arr = np.zeros(shape, dtype=np.uint8)
        vol.write_blocks_df(blocks_frame(self.spark, arr, WARM_CHUNK),
                            compression="gzip")
        vol.upload(arr[1:9, 1:9, 1:5, None], offset=(1, 1, 1))
        vol.downsample(0, factor=(2, 2, 1))
        shutil.rmtree(vol.base_path)

    def _write(self, run, kind, fn, mb, label=None):
        """A timed write op, plus the files it left in storage (walked
        outside the timed region)."""
        root = os.path.dirname(self.vols["img"].base_path)
        before = files_under(root)
        out = run.op(kind, fn, mb=mb, label=label)
        new = {p: n for p, n in files_under(root).items() if p not in before}
        run.storage.update(files=len(new), mb=sum(new.values()) / MB,
                           logical_mb=mb)
        return out

    def _upload(self, run, rng, key):
        """One unaligned upload inside one chunk (a read-modify-write of
        that chunk), read back outside the timed region."""
        vol, truth = self.vols[key], self.truth[key]
        lo, hi = crossing_box(rng, UPLOAD_BOX)
        patch = rng.integers(0, 250, size=[b - a for a, b in zip(lo, hi)]
                             ).astype(truth.dtype)
        self._write(run, "upload",
                    lambda: vol.upload(patch[..., None], offset=lo),
                    patch.nbytes / MB)
        truth[tuple(slice(a, b) for a, b in zip(lo, hi))] = patch
        out = vol.cutout(Bbox(lo, hi))
        run.check(np.array_equal(out[..., 0], patch))

    def cycle(self, run, rng):
        for _ in range(self.ROUNDS):
            for key in ("img", "seg"):
                vol = self.vols[key]
                self._write(run, "write",
                            lambda: vol.write_blocks_df(self.blocks[key],
                                                        compression="gzip"),
                            self.base[key].nbytes / MB, label=f"write_{key}")
                self.truth[key] = self.base[key].copy()
                out = vol.cutout(Bbox((0, 0, 0), VOL_SHAPE))
                run.check(np.array_equal(out[..., 0], self.truth[key]))
            for key in ("img", "seg"):
                self._upload(run, rng, key)
        img = self.vols["img"]
        self._write(run, "downsample",
                    lambda: img.downsample(0, factor=(2, 2, 1)),
                    self.truth["img"].nbytes / 4 / MB)
        out = img.cutout(Bbox((0, 0, 0), img.mip_volume_size(1)), mip=1)
        run.check(np.array_equal(out[..., 0], block_reduce_mean(self.truth["img"])))
        for key in ("img", "seg"):
            vol = self.vols[key]
            run.op("vacuum", lambda: vol.vacuum(keep_manifests=1))
        # live logical bytes: both mip-0 volumes plus the image's mip 1
        logical = (self.truth["img"].nbytes * 1.25 + self.truth["seg"].nbytes)
        self.stored_ratio = stored_bytes(os.path.dirname(img.base_path)) / logical


class OperatorMix(Workload):
    """Registry queries over the generated tables, each collected
    to the driver and checked against its DuckDB oracle digest. Spark
    planning, shuffle, driver collects and the mm_* Python boundary;
    codecs, fs and the LRU stay idle."""

    MAIN, BULK, TAIL = "query", ("query",), None

    def stage(self, rng):
        d = self.fresh_dir()
        tables = datagen.generate()
        self.expected = load_expected(datagen.fingerprint(tables))
        datagen.write(tables, d)
        self.data = d
        self.input_mb = {}

    def warmup(self):
        self.queries = all_queries()
        self.queries["vox_unique_bbox"](self.spark, self.data).toPandas()

    @staticmethod
    def reset_caches():
        for clear in (clear_cluster_cache, clear_lsh_index_cache,
                      clear_kmeans_cache, clear_ivf_index_cache):
            clear()

    def cycle(self, run, rng):
        # fixed order: first-use costs (JIT, Python-worker imports) of a
        # code path shared by several queries land on whichever runs
        # first, so a seeded order would move time between queries
        for name in ROSTER:
            self.reset_caches()
            q = self.queries[name]
            df = None

            def query():
                nonlocal df
                with run.span("operators.build"):
                    df = q(self.spark, self.data)
                with run.span("operators.execute"):
                    return df.toPandas()

            mb = self.input_mb.get(name)
            out = run.op("query", query, mb=mb or 0.0, label=name)
            if mb is None and df is not None:
                mb = sum(os.path.getsize(urlparse(f).path)
                         for f in df.inputFiles()) / MB
                self.input_mb[name] = mb
                run.samples[-1]["mb"] = mb
            run.check(out is not None and self._matches(name, out, self.expected))

    @staticmethod
    def _matches(name, pdf, expected) -> bool:
        n, h = digest(pdf)
        return n == expected[name]["rows"] and h == expected[name]["sha256"]

    def corrupted_is_caught(self) -> bool:
        name = "q1_pricing_summary"
        pdf = self.queries[name](self.spark, self.data).toPandas()
        bad = {name: dict(self.expected[name], sha256="0" * 64)}
        return (self._matches(name, pdf, self.expected)
                and not self._matches(name, pdf, bad))


WORKLOADS = {
    "cutout_read": CutoutRead,
    "ingest_write": IngestWrite,
    "operator_mix": OperatorMix,
}
