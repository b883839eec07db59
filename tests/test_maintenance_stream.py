"""Streaming tileset maintenance (streaming/maintenance.py): after
every micro-batch the maintained tileset must be BYTE-identical to a
full batch rebuild over all features so far — including rank-shifting
out-of-order arrivals — and in-order appends must rebuild only a small
affected subset."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tippecanoe_spark.config import TileConfig
from tippecanoe_spark.io.geojson import feature_records
from tippecanoe_spark.pipeline import build_tiles_local
from tippecanoe_spark.streaming.maintenance import TileMaintainer


def _muni(cfg):
    return feature_records(
        open("/root/reference/tests/muni/muni.json").read(), "muni", cfg)


def test_stream_equals_batch_random_batches():
    cfg = TileConfig(maxzoom=5)
    feats = _muni(cfg)
    # interleave so later batches insert LOWER ix values (rank shifts)
    import random

    rng = random.Random(11)
    rng.shuffle(feats)
    cuts = [0, len(feats) // 3, 2 * len(feats) // 3, len(feats)]

    m = TileMaintainer(cfg)
    seen: list = []
    for i in range(3):
        batch = feats[cuts[i]: cuts[i + 1]]
        seen += [dict(f) for f in batch]
        m.apply_batch(batch)
        want = build_tiles_local([dict(f) for f in seen], cfg)
        assert m.tiles == want, f"divergence after batch {i}"


def test_stream_mixed_geometry_equals_batch():
    cfg = TileConfig(maxzoom=4)
    text = open("/root/reference/tests/tl_2018_51685_roads/in.json").read()
    feats = feature_records(text, "in", cfg)[:400]
    m = TileMaintainer(cfg)
    half = len(feats) // 2
    m.apply_batch(feats[:half])
    m.apply_batch(feats[half:])
    want = build_tiles_local([dict(f) for f in feats], cfg)
    assert m.tiles == want


def test_in_order_appends_touch_few_tiles():
    """A localized batch whose quadkeys sort after everything already
    stored (the south-east corner is the quadkey maximum) shifts no
    ranks, so only the tiles around the new points rebuild."""
    import json
    import random

    rng = random.Random(3)
    cfg = TileConfig(maxzoom=6)

    def mk(lon, lat, i):
        return json.dumps({
            "type": "Feature", "properties": {"i": i},
            "geometry": {"type": "Point",
                         "coordinates": [round(lon, 6), round(lat, 6)]}})

    world = [mk(rng.uniform(-170, 150), rng.uniform(-60, 70), i)
             for i in range(400)]
    corner = [mk(rng.uniform(170, 175), rng.uniform(-80, -75), 400 + i)
              for i in range(10)]
    feats = feature_records("\n".join(world + corner), "pts", cfg)
    n_world = 400

    m = TileMaintainer(cfg)
    m.apply_batch(feats[:n_world])
    total = len(m.tiles)
    affected = m.apply_batch(feats[n_world:])
    assert len(affected) < total // 2, (len(affected), total)
    want = build_tiles_local([dict(f) for f in feats], cfg)
    assert m.tiles == want


def test_stream_dateline_features_equal_batch():
    """Edge-buffer features duplicate across the date line at z0; the
    affected-set must cover the wrapped copies."""
    import json

    cfg = TileConfig(maxzoom=4)
    pts = [json.dumps({"type": "Feature", "properties": {"i": i},
                       "geometry": {"type": "Point",
                                    "coordinates": [lon, 10.0 + i]}})
           for i, lon in enumerate([-179.9, -20.0, 40.0])]
    tail = [json.dumps({"type": "Feature", "properties": {"i": 99},
                        "geometry": {"type": "Point",
                                     "coordinates": [179.95, -10.0]}})]
    feats = feature_records("\n".join(pts + tail), "pts", cfg)
    m = TileMaintainer(cfg)
    m.apply_batch(feats[:3])
    m.apply_batch(feats[3:])
    want = build_tiles_local([dict(f) for f in feats], cfg)
    assert m.tiles == want


def test_foreach_batch_sink_structured_streaming(tmp_path):
    """End-to-end Structured Streaming: feature micro-batches arrive
    through readStream(parquet) -> writeStream.foreachBatch, and the
    maintained tileset equals the batch build."""
    from pyspark.sql import functions as F  # noqa: F401

    from tippecanoe_spark.pipeline import (FEATURE_SCHEMA_DDL,
                                           _pdf_rows_to_dicts,
                                           features_to_pdf)
    from tippecanoe_spark.session import get_spark
    from tippecanoe_spark.streaming.maintenance import foreach_batch_sink

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    cfg = TileConfig(maxzoom=4)
    feats = _muni(cfg)[:400]

    src = tmp_path / "stream_src"
    src.mkdir()
    pdf = features_to_pdf(feats)
    spark.createDataFrame(pdf.iloc[:200], schema=FEATURE_SCHEMA_DDL) \
        .write.parquet(str(src / "b0"))
    spark.createDataFrame(pdf.iloc[200:], schema=FEATURE_SCHEMA_DDL) \
        .write.parquet(str(src / "b1"))

    m = TileMaintainer(cfg)
    q = (spark.readStream.schema(FEATURE_SCHEMA_DDL)
         .option("maxFilesPerTrigger", 1)
         .parquet(str(src / "*"))
         .writeStream
         .foreachBatch(foreach_batch_sink(
             m, lambda bdf: _pdf_rows_to_dicts(bdf.toPandas())))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    q.stop()

    want = build_tiles_local([dict(f) for f in feats], cfg)
    assert m.tiles == want


def test_guard_rejects_zoom_global_modes():
    with pytest.raises(NotImplementedError):
        TileMaintainer(TileConfig(maxzoom=5, drop_densest=True))


# ---------------------------------------------------------------------------
# distributed maintainer (SparkTileMaintainer): same contract, state in
# parquet, rebuild = one restricted cascade+encode


@pytest.fixture(scope="module")
def spark():
    from tippecanoe_spark.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=4)


def _batch_df(spark, feats):
    from tippecanoe_spark.pipeline import FEATURE_SCHEMA_DDL, features_to_pdf

    return spark.createDataFrame(features_to_pdf(feats),
                                 schema=FEATURE_SCHEMA_DDL)


def test_spark_maintainer_equals_batch_random_batches(spark, tmp_path):
    from tippecanoe_spark.streaming.maintenance import SparkTileMaintainer

    cfg = TileConfig(maxzoom=5)
    feats = _muni(cfg)
    import random

    rng = random.Random(11)
    rng.shuffle(feats)
    cuts = [0, len(feats) // 3, 2 * len(feats) // 3, len(feats)]

    m = SparkTileMaintainer(spark, cfg, str(tmp_path / "store"))
    seen: list = []
    for i in range(3):
        batch = feats[cuts[i]: cuts[i + 1]]
        seen += [dict(f) for f in batch]
        m.apply_batch(_batch_df(spark, batch))
        want = build_tiles_local([dict(f) for f in seen], cfg)
        assert m.tiles() == want, f"divergence after batch {i}"


def test_spark_maintainer_in_order_appends_touch_few_tiles(spark, tmp_path):
    """Rank-preserving appends rebuild only the tiles around the new
    features — and nothing O(all-features) lives on the driver (the
    store is parquet)."""
    import json
    import random

    from tippecanoe_spark.io.geojson import feature_records
    from tippecanoe_spark.streaming.maintenance import SparkTileMaintainer

    rng = random.Random(3)
    cfg = TileConfig(maxzoom=6)

    def mk(lon, lat, i):
        return json.dumps({
            "type": "Feature", "properties": {"i": i},
            "geometry": {"type": "Point",
                         "coordinates": [round(lon, 6), round(lat, 6)]}})

    world = [mk(rng.uniform(-170, 150), rng.uniform(-60, 70), i)
             for i in range(400)]
    corner = [mk(rng.uniform(170, 175), rng.uniform(-80, -75), 400 + i)
              for i in range(10)]
    feats = feature_records("\n".join(world + corner), "pts", cfg)

    m = SparkTileMaintainer(spark, cfg, str(tmp_path / "store"))
    m.apply_batch(_batch_df(spark, feats[:400]))
    total = len(m.tiles())
    affected = m.apply_batch(_batch_df(spark, feats[400:]))
    assert len(affected) < total // 2, (len(affected), total)
    want = build_tiles_local([dict(f) for f in feats], cfg)
    assert m.tiles() == want


def test_spark_maintainer_incremental_commit(spark, tmp_path):
    """The per-batch tileset commit is O(affected), not O(tileset):
    after a small in-order append, partition dirs holding no affected
    tile are untouched on disk (same files, same mtimes), and the bytes
    written are a small fraction of the store."""
    import json
    import os
    import random

    from tippecanoe_spark.io.geojson import feature_records
    from tippecanoe_spark.streaming.maintenance import SparkTileMaintainer

    rng = random.Random(7)
    cfg = TileConfig(maxzoom=6)

    def mk(lon, lat, i):
        return json.dumps({
            "type": "Feature", "properties": {"i": i},
            "geometry": {"type": "Point",
                         "coordinates": [round(lon, 6), round(lat, 6)]}})

    world = [mk(rng.uniform(-170, 150), rng.uniform(-60, 70), i)
             for i in range(400)]
    corner = [mk(rng.uniform(170, 175), rng.uniform(-80, -75), 400 + i)
              for i in range(10)]
    feats = feature_records("\n".join(world + corner), "pts", cfg)

    m = SparkTileMaintainer(spark, cfg, str(tmp_path / "store"))
    m.apply_batch(_batch_df(spark, feats[:400]))

    tiles_dir = os.path.join(str(tmp_path / "store"), "tiles")

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(tiles_dir):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_mtime_ns, st.st_size)
        return out

    before = snapshot()
    total_bytes = sum(sz for (_mt, sz) in before.values())
    affected = m.apply_batch(_batch_df(spark, feats[400:]))
    after = snapshot()

    aff_buckets = {m._bucket(z, x, y) for (z, x, y) in affected}
    changed = {p for p in (set(before) | set(after))
               if before.get(p) != after.get(p)}
    # every changed file lives in an affected bucket dir
    for p in changed:
        parts = p.split(os.sep)
        pz = int([s for s in parts if s.startswith("pz=")][0][3:])
        pxy = int([s for s in parts if s.startswith("pxy=")][0][4:])
        assert (pz, pxy) in aff_buckets, p
    # untouched buckets exist and were not rewritten
    untouched = set(before) - changed
    assert untouched, "expected some unaffected partition files"
    written = sum(after[p][1] for p in changed if p in after)
    assert written < total_bytes // 2, (written, total_bytes)
    # and the result is still exactly the batch build
    want = build_tiles_local([dict(f) for f in feats], cfg)
    assert m.tiles() == want


def test_spark_foreach_batch_sink_structured_streaming(spark, tmp_path):
    """End-to-end Structured Streaming through the DISTRIBUTED sink:
    micro-batches land in the parquet store without driver collection;
    the maintained tileset equals the batch build."""
    from tippecanoe_spark.pipeline import FEATURE_SCHEMA_DDL, features_to_pdf
    from tippecanoe_spark.streaming.maintenance import (
        SparkTileMaintainer, spark_foreach_batch_sink)

    cfg = TileConfig(maxzoom=4)
    feats = _muni(cfg)[:400]

    src = tmp_path / "stream_src"
    src.mkdir()
    pdf = features_to_pdf(feats)
    spark.createDataFrame(pdf.iloc[:200], schema=FEATURE_SCHEMA_DDL) \
        .write.parquet(str(src / "b0"))
    spark.createDataFrame(pdf.iloc[200:], schema=FEATURE_SCHEMA_DDL) \
        .write.parquet(str(src / "b1"))

    m = SparkTileMaintainer(spark, cfg, str(tmp_path / "store"))
    q = (spark.readStream.schema(FEATURE_SCHEMA_DDL)
         .option("maxFilesPerTrigger", 1)
         .parquet(str(src / "*"))
         .writeStream
         .foreachBatch(spark_foreach_batch_sink(m))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    q.stop()

    want = build_tiles_local([dict(f) for f in feats], cfg)
    assert m.tiles() == want


def test_spark_maintainer_guard(spark, tmp_path):
    from tippecanoe_spark.streaming.maintenance import SparkTileMaintainer

    with pytest.raises(NotImplementedError):
        SparkTileMaintainer(spark, TileConfig(maxzoom=5, drop_densest=True),
                            str(tmp_path / "s"))


def test_spark_maintainer_crawl_batches_equal_batch_build(spark, tmp_path):
    """Crawl-order page batches on a z9 store touch hundreds of
    partition buckets: the kept-tile filter must stay one term per zoom
    (one per bucket overflowed the JVM stack), and every batch after
    the first must still commit (a failed batch once left its fmz
    snapshot behind, so the next one hit PATH_ALREADY_EXISTS)."""
    from tippecanoe_spark.io.pages import extract_features_df, pages_df
    from tippecanoe_spark.pipeline import build_tiles
    from tippecanoe_spark.streaming.maintenance import SparkTileMaintainer

    cfg = TileConfig(maxzoom=9)
    feats = extract_features_df(spark, pages_df(spark, 550, seed=42), cfg)
    m = SparkTileMaintainer(spark, cfg, str(tmp_path / "store"))
    m.apply_batch(feats.filter("seq < 500"))
    buckets = []
    for lo in (500, 525):
        aff = m.apply_batch(feats.filter(f"seq >= {lo} AND seq < {lo + 25}"))
        buckets.append(len({m._bucket(*t) for t in aff}))
    assert min(buckets) > 100, buckets
    want = {(r["z"], r["x"], r["y"]): bytes(r["tile"])
            for r in build_tiles(spark, feats, cfg).collect()}
    assert m.tiles() == want


def test_spark_maintainer_recovers_after_failed_batch(spark, tmp_path,
                                                      monkeypatch):
    """A batch that fails during its rebuild leaves the store usable:
    the next batch commits, and picks up the failed batch's features
    (already appended to the store) as new."""
    import json
    import random

    import tippecanoe_spark.pipeline as pipeline
    from tippecanoe_spark.streaming.maintenance import SparkTileMaintainer

    rng = random.Random(5)
    cfg = TileConfig(maxzoom=4)
    feats = feature_records("\n".join(json.dumps({
        "type": "Feature", "properties": {"i": i},
        "geometry": {"type": "Point", "coordinates": [
            round(rng.uniform(-170, 170), 6), round(rng.uniform(-70, 70), 6)]}})
        for i in range(300)), "pts", cfg)

    m = SparkTileMaintainer(spark, cfg, str(tmp_path / "store"))
    m.apply_batch(_batch_df(spark, feats[:200]))

    def broken(*_a, **_k):
        raise RuntimeError("rebuild failed")

    with monkeypatch.context() as mp:
        mp.setattr(pipeline, "build_tiles", broken)
        with pytest.raises(RuntimeError):
            m.apply_batch(_batch_df(spark, feats[200:250]))
    m.apply_batch(_batch_df(spark, feats[250:]))
    want = build_tiles_local([dict(f) for f in feats], cfg)
    assert m.tiles() == want
