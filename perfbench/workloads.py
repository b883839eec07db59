"""The benchmark's workloads: seeded inputs, one op each, output checks.

Each workload is a closed loop with one caller: ``op`` runs one unit of
user-visible work through the public API and returns an order-free
digest of its output, which the caller compares with the first op's
digest and, for pinned seeds, with ``expected.json``.
"""

from __future__ import annotations

import os
import shutil
import sqlite3
import struct
import sys
import zlib

import numpy as np
import pandas as pd

# --- sizes (fixed per workload; the seed varies content, not size) -------

TILE_PAGES = 2000          # pages in the tile workloads' page table
TILE_MAXZOOM = 9           # tile_plain's pyramid depth
ASNEEDED_PAGES = 500       # as-needed layer probe (traced runs only)
ASNEEDED_MAXZOOM = 8
MAINTAIN_BASE = 500        # maintenance probe: pages in the initial store
MAINTAIN_BATCH = 25        # maintenance probe: pages per micro-batch
MAINTAIN_BATCHES = 2       # maintenance probe: micro-batches applied
DEDUP_DOCS = 6000          # documents in query_dedup's corpus

DEDUP_QUERIES = ("minhash_bands", "dedup_near_verified", "ngram_jaccard",
                 "contamination")

# the documents vocabulary and shape of the repository's sf0.1 fixture:
# 10-100 words per doc, 5% near-duplicates (another doc's text + " dup"),
# 20 round-robin sources, en-heavy language mix
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)


def make_documents(n: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j]
                                  for j in rng.integers(0, len(_VOCAB), k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def tile_digest(rows) -> tuple[int, int]:
    """(count, sum of crc32 over (z, x, y) + tile bytes): order-free."""
    n = 0
    total = 0
    for z, x, y, data in rows:
        total += zlib.crc32(data, zlib.crc32(struct.pack("<iqq", z, x, y)))
        n += 1
    return n, total


def rows_digest(rows) -> tuple[int, int]:
    """(count, sum of crc32 of each row's repr): order-free."""
    total = 0
    for r in rows:
        total += zlib.crc32(repr(tuple(r)).encode())
    return len(rows), total


def read_mbtiles_rows(path: str):
    """(z, x, y, bytes) from an mbtiles file, y flipped back to XYZ."""
    db = sqlite3.connect(path)
    try:
        for z, x, row, data in db.execute(
                "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"):
            yield z, x, (1 << z) - 1 - row, bytes(data)
    finally:
        db.close()


def dir_size_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total / 2 ** 20


class TilePlain:
    """Pages parquet -> features -> fmz -> cascade+encode -> mbtiles,
    the same export shape as the CLI (DISK_ONLY persist, then one
    sqlite writer fed by ``toLocalIterator``)."""

    name = "tile_plain"

    def __init__(self, spark, work: str, seed: int):
        from tippecanoe_spark.config import TileConfig

        self.spark = spark
        self.work = work
        self.seed = seed
        self.cfg = TileConfig(maxzoom=TILE_MAXZOOM)
        self.pages_path = os.path.join(work, "pages.parquet")
        self.out_path = os.path.join(work, "out.mbtiles")
        self.last = {}
        self._full_rows = None

    def setup(self) -> None:
        from tippecanoe_spark.io.pages import pages_df

        pages_df(self.spark, TILE_PAGES, seed=self.seed).write.parquet(
            self.pages_path)

    def op(self, tr, op_id: int):
        from pyspark import StorageLevel

        from tippecanoe_spark.io.mbtiles import write_mbtiles_stream
        from tippecanoe_spark.io.pages import extract_features_df
        from tippecanoe_spark.pipeline import assign_minzoom_spark, build_tiles

        spark, cfg = self.spark, self.cfg
        if os.path.exists(self.out_path):
            os.remove(self.out_path)
        with tr.span("op", op_id):
            with tr.span("pages", op_id):
                pages = spark.read.parquet(self.pages_path)
                feats = extract_features_df(spark, pages, cfg).persist()
                n_feats = feats.count()
            try:
                with tr.span("minzoom", op_id):
                    fmz = assign_minzoom_spark(feats, cfg)
                with tr.span("build", op_id):
                    tiles = build_tiles(spark, fmz, cfg, skip_minzoom=True)
                    tiles = tiles.persist(StorageLevel.DISK_ONLY)
                    tiles.count()
                try:
                    with tr.span("export", op_id):
                        acc = [0, 0]

                        def stream():
                            for r in tiles.toLocalIterator():
                                z, x, y, data = r["z"], r["x"], r["y"], bytes(r["tile"])
                                acc[0] += zlib.crc32(
                                    data, zlib.crc32(struct.pack("<iqq", z, x, y)))
                                acc[1] += len(data)
                                yield z, x, y, data, r["gops"]

                        n_tiles, _ = write_mbtiles_stream(
                            self.out_path, stream(), maxzoom=cfg.maxzoom)
                finally:
                    tiles.unpersist()
            finally:
                feats.unpersist()
        self.last = {"features": n_feats, "tiles": n_tiles, "tile_bytes": acc[1],
                     # a traced op keeps its fmz frame for layer_probes
                     "fmz": fmz if tr.enabled else None}
        return {"tiles": n_tiles, "digest": acc[0]}

    def final_check(self, expected: dict) -> list[str]:
        """Untimed: the file on disk holds exactly the digest the op
        reported, and a one-byte change to one tile is detected."""
        rows = list(read_mbtiles_rows(self.out_path))
        errors = []
        n, d = tile_digest(rows)
        if (n, d) != (expected["tiles"], expected["digest"]):
            errors.append(f"mbtiles read-back {n}/{d} != {expected}")
        if rows:
            z, x, y, data = rows[len(rows) // 2]
            flipped = bytearray(data)
            flipped[len(flipped) // 2] ^= 0x01
            rows[len(rows) // 2] = (z, x, y, bytes(flipped))
            if tile_digest(rows) == (n, d):
                errors.append("self-test: a one-byte tile change was not detected")
        return errors

    def layer_probes(self, tr, op_id: int) -> dict:
        """Untimed, after a traced op: the cascade on its own (the span
        the encode is derived from) and its useful-work ratio."""
        from tippecanoe_spark.operators.tiler import can_prefilter_dropped
        from tippecanoe_spark.pipeline import cascade_all_zooms

        fmz = self.last.pop("fmz")
        par = self.spark.sparkContext.defaultParallelism
        # build_tiles rebalances before its cascade; do the same
        src = fmz.repartition(par * 2)
        with tr.span("cascade", op_id):
            rows = cascade_all_zooms(src, self.cfg,
                                     can_prefilter_dropped(self.cfg)).count()
        if self._full_rows is None:
            self._full_rows = cascade_all_zooms(src, self.cfg, False).count()
        return {"cascade.rows": rows,
                "cascade.kept_share": rows / self._full_rows}

    def once_probes(self, tr) -> dict:
        """Untimed, once per traced run, on the same page table: the
        as-needed build (map-side shrink, two-pass per-zoom driver loop,
        executor-parallel dirtiles export) and incremental maintenance."""
        from tippecanoe_spark.io.pages import extract_features_df

        feats = extract_features_df(
            self.spark, self.spark.read.parquet(self.pages_path), self.cfg)
        out = self._asneeded_probe(tr, feats)
        out.update(self._maintain_probe(tr, feats))
        return out

    def _asneeded_probe(self, tr, feats) -> dict:
        from tippecanoe_spark.config import TileConfig
        from tippecanoe_spark.io.dirtiles import write_dirtiles_spark
        from tippecanoe_spark.pipeline import (assign_minzoom_spark, build_tiles,
                                               cascade_all_zooms)

        cfg = TileConfig(maxzoom=ASNEEDED_MAXZOOM, drop_densest=True)
        outdir = os.path.join(self.work, "asneeded")
        sub = feats.filter(f"seq < {ASNEEDED_PAGES}")
        fmz = assign_minzoom_spark(sub, cfg)
        par = self.spark.sparkContext.defaultParallelism
        src = fmz.repartition(par * 2)
        with tr.span("asneeded.cascade", -1):
            kept = cascade_all_zooms(src, cfg, False, True).count()
        full = cascade_all_zooms(src, cfg, False, False).count()
        with tr.span("asneeded.build", -1) as b:
            tiles = build_tiles(self.spark, fmz, cfg, skip_minzoom=True)
        with tr.span("asneeded.export", -1) as e:
            n_tiles, _ = write_dirtiles_spark(tiles, outdir, force=True,
                                              maxzoom=cfg.maxzoom)
        return {"asneeded.cascade.kept_share": kept / full,
                "asneeded.build.wall_s": b.wall_s,
                "asneeded.build.jobs": b.counters["jobs"],
                "asneeded.export.wall_s": e.wall_s,
                "asneeded.export.jobs": e.counters["jobs"],
                "asneeded.export.mb_written": dir_size_mb(outdir),
                "asneeded.pyworker_cpu_s": (b.counters["pyworker_cpu_s"]
                                            + e.counters["pyworker_cpu_s"]),
                "asneeded.tiles": n_tiles}

    def _maintain_probe(self, tr, feats) -> dict:
        """A SparkTileMaintainer store over the first MAINTAIN_BASE
        pages, then the next crawl-order micro-batches (random world
        locations) through ``apply_batch``."""
        from tippecanoe_spark.streaming.maintenance import SparkTileMaintainer

        store = os.path.join(self.work, "maintain")
        m = SparkTileMaintainer(self.spark, self.cfg, store)
        base = MAINTAIN_BASE
        m.apply_batch(feats.filter(f"seq < {base}"))
        n_store = self.spark.read.parquet(os.path.join(store, "tiles")).count()
        failed = 0
        out = {}
        for b in range(MAINTAIN_BATCHES):
            lo = base + b * MAINTAIN_BATCH
            size0 = dir_size_mb(store)
            in0 = dir_size_mb(os.path.join(store, "features"))
            with tr.span("maintain", -1 - b) as s:
                try:
                    m.apply_batch(feats.filter(
                        f"seq >= {lo} AND seq < {lo + MAINTAIN_BATCH}"))
                except Exception as exc:  # noqa: BLE001 - the failure is the measurement
                    failed += 1
                    print(f"perfbench: maintain batch {b} failed: "
                          f"{str(exc).splitlines()[0][:200]}", file=sys.stderr)
            if b == 0:
                # the layer numbers are the first batch's; later batches
                # show whether a failure leaves the store usable
                mb_in = dir_size_mb(os.path.join(store, "features")) - in0
                aff = m.last_affected
                out = {
                    "maintain.wall_s": s.wall_s,
                    "maintain.affected_tiles": len(aff),
                    "maintain.affected_buckets": len({m._bucket(*t) for t in aff}),
                    "maintain.rebuilt_share": len(aff) / n_store,
                    "maintain.mb_written_per_mb_in":
                        (dir_size_mb(store) - size0) / mb_in if mb_in else 0.0,
                }
        out["maintain.failed_batches"] = failed
        return out


class QueryDedup:
    """The four text-dedup queries of ``__spark_entry__.queries()`` over
    a seeded documents table, each collected to the driver."""

    name = "query_dedup"

    def __init__(self, spark, work: str, seed: int):
        import __spark_entry__

        self.spark = spark
        self.seed = seed
        self.docs_dir = os.path.join(work, "docs")
        qs = __spark_entry__.queries()
        self.queries = {q: qs[q] for q in DEDUP_QUERIES}
        self.last = {}

    def setup(self) -> None:
        os.makedirs(self.docs_dir)
        make_documents(DEDUP_DOCS, self.seed).to_parquet(
            os.path.join(self.docs_dir, "documents.parquet"), index=False)

    def op(self, tr, op_id: int):
        out = {}
        plans = {}
        with tr.span("op", op_id):
            for q, fn in self.queries.items():
                with tr.span(f"dedup.{q}", op_id):
                    df = fn(self.spark, self.docs_dir)
                    rows = df.collect()
                out[q] = list(rows_digest(rows))
                if tr.enabled:
                    plans[q] = df._jdf.queryExecution().executedPlan().toString()
        self.last = {"plans": plans, "rows": rows}
        return out

    def final_check(self, expected: dict) -> list[str]:
        """Untimed self-test: changing one digit of one result row (the
        last query's) moves the digest."""
        rows = [tuple(r) for r in self.last["rows"]]
        if not rows:
            return ["self-test: the last query returned no rows"]
        mutated = list(rows)
        mutated[0] = (rows[0][0] + 1,) + rows[0][1:]
        if rows_digest(rows) == rows_digest(mutated):
            return ["self-test: a one-row change was not detected"]
        return []

    def once_probes(self, tr) -> dict:
        return {}

    def layer_probes(self, tr, op_id: int) -> dict:
        plans = self.last.get("plans", {})
        return {"dedup.sort_aggregates":
                sum(p.count("SortAggregate") for p in plans.values())}


WORKLOADS = {w.name: w for w in (TilePlain, QueryDedup)}


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
