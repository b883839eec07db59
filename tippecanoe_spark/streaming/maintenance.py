"""Streaming tileset maintenance: keep a tileset equal to the batch
build over all features received so far, rebuilding only affected
tiles per micro-batch.

The reference is strictly batch (a new feature means a full re-run);
this is the Spark-native incremental counterpart (SURVEY §2.12).  The
EXACTNESS contract: after every batch, the maintained tileset is
byte-identical to `pipeline.build_tiles_local(all_features_so_far)` —
pytest-enforced including mid-stream states (tests/test_maintenance
_stream.py).

How the affected set stays exact:

- A new feature affects the tiles whose BUFFERED boxes its bbox
  intersects, at every zoom (margin = tile_size * buffer / 256).
- feature_minzoom depends on the global (ix, seq) rank
  (main.cpp:269-294), so an insert can shift the fmz of EXISTING
  features; fmz is recomputed over the full store per batch (exact,
  O(n log n)) and every feature whose fmz CHANGED is treated like a
  new feature (its tiles join the affected set).  Appends that arrive
  in ix order shift nothing and touch only their own tiles.
- Rebuilding a tile replays the exact cascade path from the traversal
  root down to the target (clip at each ancestor, keep the child on
  the path), because progressive parent clipping is observable in the
  bytes; a direct clip at the target zoom is NOT always identical.

Guards: zoom-global as-needed/accumulate modes couple every tile of a
zoom through the pass-0 parameter discovery (tile.cpp:2778-2880), so a
single insert can invalidate a whole zoom; those configs are rejected
rather than silently approximated.

Two implementations of the same contract:

- ``TileMaintainer``: single-process reference (a Python list store).
  Semantics anchor; small-scale only.
- ``SparkTileMaintainer``: the scale path.  The feature store and the
  tileset live in PARQUET (appended / swapped per batch — nothing
  O(all-features) on the driver); fmz comes from assign_minzoom_spark;
  the changed-fmz diff is a join on (ix, seq) against the previous
  snapshot; the rebuild is ONE cascade+encode restricted to the
  affected tile set (build_tiles(only_tiles=...)) — progressive
  ancestor clipping replays inside the cascade itself, so bytes match
  the batch build exactly.
"""

from __future__ import annotations

from ..config import TileConfig


def _cover_tiles(mnx, mny, mxx, mxy, cfg: TileConfig) -> set:
    """All (z, x, y) whose BUFFERED box intersects the feature bbox,
    minzoom..maxzoom, including date-line wrapped copies (z0 edge
    duplication, clip_to_tile tile.cpp:1228-1254)."""
    W = 1 << 32
    edge = W * cfg.buffer // 256
    boxes = [(mnx, mxx)]
    if mnx < edge:
        boxes.append((mnx + W, min(mxx + W, W - 1)))
    if mxx > W - edge:
        boxes.append((max(mnx - W, 0), mxx - W))

    out = set()
    for bx0, bx1 in boxes:
        for z in range(cfg.minzoom, cfg.maxzoom + 1):
            size = 1 << (32 - z)
            margin = size * cfg.buffer // 256
            # clip_point is boundary-INCLUSIVE on both ends
            # (geometry.cpp:597-617): a coordinate exactly margin past a
            # tile edge still lands in that tile, so the lower tile
            # index must step back one tile when (coord - margin) sits
            # exactly on a tile boundary — hence the (q - 1) >> s form.
            tx0 = (bx0 - margin - 1) >> (32 - z) if bx0 - margin > 0 else 0
            tx1 = min(W - 1, bx1 + margin) >> (32 - z)
            ty0 = (mny - margin - 1) >> (32 - z) if mny - margin > 0 else 0
            ty1 = min(W - 1, mxy + margin) >> (32 - z)
            for tx in range(tx0, tx1 + 1):
                for ty in range(ty0, ty1 + 1):
                    out.add((z, tx, ty))
    return out


def _check_maintainable(cfg: TileConfig) -> None:
    if cfg.any_as_needed or cfg.accumulate or cfg.gamma > 0 \
            or cfg.cluster_distance != 0 or cfg.extend_zooms:
        raise NotImplementedError(
            "incremental maintenance requires per-tile-local modes; "
            "zoom-global as-needed/accumulate/gamma/cluster configs "
            "couple tiles through pass-0 discovery")


class TileMaintainer:
    def __init__(self, cfg: TileConfig):
        _check_maintainable(cfg)
        self.cfg = cfg
        self.feats: list = []
        self.tiles: dict = {}
        self._prev_fmz: dict = {}  # id(feature-dict-key) -> fmz; keyed by (ix, seq)
        self.last_affected: set = set()

    # -- affected-set computation ------------------------------------------

    def _tiles_of(self, f) -> set:
        cfg = self.cfg
        if "bbox_minx" in f:
            mnx, mny = f["bbox_minx"], f["bbox_miny"]
            mxx, mxy = f["bbox_maxx"], f["bbox_maxy"]
        else:  # cascade-schema rows carry geometry only
            import numpy as np

            xs = np.frombuffer(f["xs"], dtype=np.int64)
            ys = np.frombuffer(f["ys"], dtype=np.int64)
            if len(xs) == 0:
                return set()
            mnx, mxx = int(xs.min()), int(xs.max())
            mny, mxy = int(ys.min()), int(ys.max())

        return _cover_tiles(mnx, mny, mxx, mxy, cfg)

    # -- exact single-tile rebuild (cascade-path replay) -------------------

    def _rebuild(self, z: int, x: int, y: int):
        """Replay the cascade from the traversal root to (z, x, y): clip
        at each ancestor, keeping only the on-path child — byte-equal to
        the full BFS's work for this tile."""
        from ..operators.tiler import process_tile
        from ..pipeline import _zoom_params_init

        cfg = self.cfg
        # shallow copy is enough: process_tile never mutates its input
        # dicts (rows are re-dict'ed before any edit), and apply_batch
        # already left self.feats (ix, seq)-sorted, so the per-level
        # sorts below are O(n) no-op verification passes
        rows = list(self.feats)
        for zz in range(0, z + 1):
            tx, ty = x >> (z - zz), y >> (z - zz)
            rows.sort(key=lambda f: (
                f["ix"] if f["ix"] >= 0 else f["ix"] + (1 << 64), f["seq"]))
            params = dict(_zoom_params_init(zz, cfg))
            if zz == z:
                tile_bytes, _ch, _st = process_tile(
                    rows, zz, tx, ty, cfg, pass_params=params,
                    emit_children=False)
                return tile_bytes
            _tb, children, _st = process_tile(rows, zz, tx, ty, cfg,
                                              pass_params=params)
            ntx, nty = x >> (z - zz - 1), y >> (z - zz - 1)
            nxt = []
            for ch in children:
                if ch["tile_x"] == ntx and ch["tile_y"] == nty:
                    ch.pop("tile_x")
                    ch.pop("tile_y")
                    nxt.append(ch)
            rows = nxt
            if not rows:
                return None
        return None

    # -- batch application -------------------------------------------------

    def apply_batch(self, new_feats: list) -> set:
        """Append features, recompute fmz, rebuild affected tiles.
        Returns the affected (z, x, y) set."""
        from ..pipeline import assign_minzoom_local

        cfg = self.cfg
        fresh_keys = set()
        for f in new_feats:
            f = dict(f)
            self.feats.append(f)
            fresh_keys.add((f["ix"], f["seq"]))

        assign_minzoom_local(self.feats, cfg)

        affected = set()
        new_fmz = {}
        for f in self.feats:
            key = (f["ix"], f["seq"])
            new_fmz[key] = f["fmz"]
            if key in fresh_keys or self._prev_fmz.get(key) != f["fmz"]:
                affected |= self._tiles_of(f)
        self._prev_fmz = new_fmz

        for (z, tx, ty) in sorted(affected):
            tb = self._rebuild(z, tx, ty)
            if tb is None:
                self.tiles.pop((z, tx, ty), None)
            else:
                self.tiles[(z, tx, ty)] = tb
        self.last_affected = affected
        return affected


def foreach_batch_sink(maintainer: TileMaintainer, rows_to_features):
    """foreachBatch adapter: `df.writeStream.foreachBatch(
    foreach_batch_sink(m, conv))` keeps `m.tiles` current as
    micro-batches arrive (conv turns a batch DataFrame into feature
    records, e.g. pipeline._pdf_rows_to_dicts of collected rows)."""
    def sink(batch_df, _batch_id):
        feats = rows_to_features(batch_df)
        if feats:
            maintainer.apply_batch(feats)

    return sink


class SparkTileMaintainer:
    """Distributed incremental maintenance (the scale path).

    All state is parquet under ``store_dir`` — the driver holds only
    paths and a version counter, never the features:

      features/   append-only store (cascade schema, pipeline.
                  FEATURE_SCHEMA_DDL)
      fmz_v{N}/   (ix, seq, fmz) snapshot after batch N
      tiles/      the maintained tileset, ONE parquet dir partitioned
                  by (pz, pxy) — pz = zoom, pxy = the tile's top-level
                  quadrant bucket (x >> (z-B), y >> (z-B) packed; ≤
                  4^B buckets per zoom, B = TILE_BUCKET_BITS)

    Per batch: append → assign_minzoom_spark over the full store (fmz
    is a global-rank function, main.cpp:269-294) → anti/diff join on
    (ix, seq) against the previous fmz snapshot picks the new-or-
    shifted features → their buffered tile covers (date-line wraps
    included) form the affected set → ONE restricted cascade+encode
    (pipeline.build_tiles(only_tiles=affected)) rebuilds exactly those
    tiles.

    The commit is INCREMENTAL (r5): only the partitions containing
    affected tiles are rewritten.  Kept tiles of those partitions are
    read back with a (pz, pxy) IN filter — partition-pruned to the
    affected buckets — anti-joined against the affected coords, unioned
    with the rebuilt tiles, and written with dynamic partition
    overwrite (write option ``partitionOverwriteMode=dynamic``).  Bytes
    read and written per batch are O(affected buckets), not
    O(tileset); a spatially-local batch touches a handful of quadrant
    buckets.  Affected buckets whose content becomes empty can't be
    expressed by a zero-row dynamic overwrite, so their partition dirs
    are unlinked driver-side.  (Production note: an Iceberg/Delta
    ``MERGE INTO`` gives the same write shape with snapshot-atomic
    commits; plain parquet partition overwrite is per-partition staged
    but not cross-partition atomic.)  Byte-equal to the batch build by
    the same argument as TileMaintainer (progressive ancestor clipping
    happens inside the cascade)."""

    #: bits per axis for the quadrant bucket (4 → ≤256 buckets/zoom)
    TILE_BUCKET_BITS = 4

    def __init__(self, spark, cfg: TileConfig, store_dir: str):
        _check_maintainable(cfg)
        import os

        self.spark = spark
        self.cfg = cfg
        self.store_dir = store_dir
        os.makedirs(store_dir, exist_ok=True)
        self.version = 0
        self.last_affected: set = set()

    def _path(self, name: str) -> str:
        import os

        return os.path.join(self.store_dir, name)

    def apply_batch(self, batch_df) -> set:
        """Append a feature micro-batch (cascade schema) and bring the
        tileset current.  Returns the affected (z, x, y) set (tile
        coords only — O(affected tiles) on the driver)."""
        import os
        import shutil

        from pyspark.sql import functions as F

        from ..pipeline import assign_minzoom_spark, build_tiles

        spark, cfg = self.spark, self.cfg
        fdir = self._path("features")
        batch_df.write.mode("append").parquet(fdir)

        store = spark.read.parquet(fdir)
        withf = assign_minzoom_spark(store, cfg)

        prev_dir = self._path(f"fmz_v{self.version}")
        if os.path.exists(prev_dir):
            prev = (spark.read.parquet(prev_dir)
                    .withColumnRenamed("fmz", "_pfmz"))
            changed = (withf.join(prev, ["ix", "seq"], "left")
                       .filter("_pfmz IS NULL OR _pfmz <> fmz")
                       .drop("_pfmz"))
        else:
            changed = withf

        cover_cfg = cfg

        def cover(it):
            import numpy as np
            import pandas as pd

            for pdf in it:
                recs = set()
                for xs_b, ys_b in zip(pdf["xs"], pdf["ys"]):
                    xs = np.frombuffer(xs_b, dtype=np.int64)
                    if len(xs) == 0:
                        continue
                    ys = np.frombuffer(ys_b, dtype=np.int64)
                    recs |= _cover_tiles(int(xs.min()), int(ys.min()),
                                         int(xs.max()), int(ys.max()),
                                         cover_cfg)
                if recs:
                    out = sorted(recs)
                    yield pd.DataFrame({"z": [r[0] for r in out],
                                        "x": [r[1] for r in out],
                                        "y": [r[2] for r in out]})

        aff_df = (changed.select("xs", "ys")
                  .mapInPandas(cover, schema="z int, x long, y long")
                  .dropDuplicates(["z", "x", "y"]))
        affected = {(r["z"], r["x"], r["y"]) for r in aff_df.collect()}
        self.last_affected = affected

        tiles_dir = self._path("tiles")
        if affected:
            aff = spark.createDataFrame(
                sorted(affected), schema="z int, x long, y long")
            rebuilt = build_tiles(spark, withf, cfg, skip_minzoom=True,
                                  only_tiles=aff)
            # incremental commit: rewrite ONLY the partitions that hold
            # affected tiles.  aff_buckets is O(affected) driver-side.
            aff_buckets = sorted({self._bucket(z, x, y)
                                  for (z, x, y) in affected})
            out = self._with_buckets(rebuilt)
            have_store = os.path.exists(tiles_dir)
            if have_store:
                # one (pz = z AND pxy IN (...)) term per zoom over the
                # partition columns — prunable by the parquet source,
                # and at most maxzoom + 1 terms (one term per bucket
                # nests hundreds of ORs and overflows the JVM stack)
                from functools import reduce

                by_zoom: dict = {}
                for (pz, pxy) in aff_buckets:
                    by_zoom.setdefault(pz, []).append(pxy)
                in_aff = reduce(lambda a, b: a | b,
                                [(F.col("pz") == pz) & F.col("pxy").isin(pxys)
                                 for pz, pxys in by_zoom.items()])
                # (pz, pxy) are partition columns: this scan is pruned
                # to the affected bucket dirs only
                kept = (spark.read.parquet(tiles_dir).filter(in_aff)
                        .join(F.broadcast(aff), ["z", "x", "y"],
                              "left_anti"))
                out = out.unionByName(kept.select(*out.columns))
            (out.repartition("pz", "pxy")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("pz", "pxy")
                .parquet(tiles_dir))
            # a bucket whose every tile vanished writes zero rows, which
            # dynamic overwrite can't express — unlink those dirs
            if have_store:
                nonempty = {(r["pz"], r["pxy"]) for r in
                            (spark.read.parquet(tiles_dir)
                             .filter(in_aff)
                             .select("pz", "pxy").distinct().collect())}
                for (pz, pxy) in aff_buckets:
                    if (pz, pxy) not in nonempty:
                        d = os.path.join(tiles_dir, f"pz={pz}", f"pxy={pxy}")
                        if os.path.exists(d):
                            shutil.rmtree(d)

        # the snapshot goes last: a batch that fails before this line
        # leaves no fmz_v{N+1} behind to collide with the next batch
        (withf.select("ix", "seq", "fmz").write.mode("overwrite")
            .parquet(self._path(f"fmz_v{self.version + 1}")))
        self.version += 1
        if os.path.exists(prev_dir):
            shutil.rmtree(prev_dir)
        return affected

    def _bucket(self, z: int, x: int, y: int) -> tuple:
        """(pz, pxy) partition values for a tile (driver-side twin of
        _with_buckets)."""
        b = self.TILE_BUCKET_BITS
        s = max(0, z - b)
        return z, ((x >> s) << b) | (y >> s)

    def _with_buckets(self, df):
        from pyspark.sql import functions as F

        b = self.TILE_BUCKET_BITS
        return df.withColumn("pz", F.col("z")).withColumn(
            "pxy", F.expr(
                f"int(shiftleft(shiftright(x, greatest(z - {b}, 0)), {b})"
                f" | shiftright(y, greatest(z - {b}, 0)))"))

    def tiles(self) -> dict:
        """Materialize the current tileset as {(z, x, y): bytes} (test/
        export convenience; the state itself stays in parquet)."""
        import os

        d = self._path("tiles")
        if not os.path.exists(d) or not any(
                f.startswith("pz=") for f in os.listdir(d)):
            return {}
        return {(r["z"], r["x"], r["y"]): bytes(r["tile"])
                for r in self.spark.read.parquet(d)
                .select("z", "x", "y", "tile").collect()}


def spark_foreach_batch_sink(maintainer: SparkTileMaintainer):
    """foreachBatch adapter for the distributed maintainer: the batch
    DataFrame goes straight into the parquet store (no driver
    collection)."""
    def sink(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        maintainer.apply_batch(batch_df)

    return sink
