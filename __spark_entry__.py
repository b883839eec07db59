"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end vector-tile build on a
deterministic synthetic Common-Crawl-style page table (BASELINE.json
input_hint shape) and returns the tile summary DataFrame.

``queries()`` exposes the engine's operators (SURVEY.md §2) over the
driver's parquet tables; ``oracle_sql()`` gives the DuckDB-equivalent
ANSI SQL.  Cross-engine exactness strategy: integer arithmetic for all
spatial math (synthetic world coordinates are integer hashes of keys;
tile/quadkey math is shifts and masks), md5 for content hashes,
literal double constants for drop intervals, floor-based quantization
for float embeddings, and round(x, 6) wherever a genuine double is
returned.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# synthetic world coordinates: pure integer hash of the event key so both
# engines compute identical values (no projection floats involved)
_XMUL = 2654435761
_YMUL = 2246822519
_YADD = 3266489917
_W = 1 << 32

_SPARK_XY = (
    f"(event_id * {_XMUL}) % {_W} AS x32",
    f"(event_id * {_YMUL} + {_YADD}) % {_W} AS y32",
)
_DUCK_XY = _SPARK_XY  # same arithmetic works in DuckDB


def _events_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.selectExpr("event_id", "event_type", "user_id", "value", "ts",
                         *_SPARK_XY)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_load plus a round-robin repartition WHEN the parquet layout
    cannot feed the session's cores: a parquet row group is the scan's
    split granularity, so a single-row-group file pins every scan-side
    projection to ONE task no matter how many byte-range splits Spark
    plans.  For the shingle/n-gram queries that means ~400k md5 calls
    single-threaded (measured: dedup_near_verified 2.06 -> 0.97 s at
    sf0.1 with the spread).  The row-group count is a driver-side
    footer read (no job, same pattern as ann.parquet_row_count); on
    production inputs with >= cores/2 row groups this adds NOTHING —
    no shuffle, plan unchanged.  Results are unaffected either way:
    every consumer is an aggregation/join whose output is
    partitioning-independent."""
    import os

    df = _load(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    try:
        import pyarrow.parquet as pq

        p = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(p):
            rgs = sum(
                pq.ParquetFile(os.path.join(p, f)).metadata.num_row_groups
                for f in sorted(os.listdir(p)) if f.endswith(".parquet"))
        else:
            rgs = pq.ParquetFile(p).metadata.num_row_groups
    except Exception:
        return df
    if rgs < max(par // 2, 2):
        df = df.repartition(par)
    return df


# interval constants for droprate 2.5, basezoom 10 (exp(log(2.5)*k) like
# prep_drop_states, main.cpp:998) — emitted as 17-digit literals so both
# engines parse the identical double
_BASEZOOM = 10
_INTERVALS = {z: math.exp(math.log(2.5) * (_BASEZOOM - z)) for z in range(_BASEZOOM)}


def _minzoom_case_sql(rank_col: str) -> str:
    """minzoom via closed-form rank thinning (engine's distributed mode,
    core/dropping.minzoom_rank_approx): 1 + highest zoom where the rank
    is thinned out."""
    terms = []
    for z in range(_BASEZOOM):
        # CAST: Spark parses bare decimal literals as DECIMAL, not DOUBLE
        r = f"CAST({_INTERVALS[z]!r} AS DOUBLE)"
        dropped = (
            f"(CASE WHEN {rank_col} <> 1 AND "
            f"floor({rank_col} / {r}) = floor(({rank_col} - 1) / {r}) "
            f"THEN {z + 1} ELSE 0 END)"
        )
        terms.append(dropped)
    return "greatest(" + ", ".join(terms) + ")"


# ---------------------------------------------------------------------------
# queries


def q_tile_assign_z10(spark, sf_dir):
    df = _events_xy(spark, sf_dir)
    return (
        df.selectExpr("x32 >> 22 AS tx", "y32 >> 22 AS ty")
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"))
    )


def q_quadkey(spark, sf_dir):
    df = _events_xy(spark, sf_dir)
    return df.selectExpr("event_id", _QK_SPARK + " AS qk62").orderBy("event_id")


def q_hex_density(spark, sf_dir):
    """H3-style hexagonal cell index (north-rule item alongside the
    quadkey/hilbert quadtree): every event gets a hex cell via the
    exact-integer two-grid assignment (operators/cellindex.py — planar
    affine hexagons, not H3's icosahedral cells; documented there), then
    a per-cell density rollup.  One narrow JVM-side projection + one
    hash aggregation with map-side partial agg — the same plan shape at
    10^12 rows."""
    from tippecanoe_spark.operators.cellindex import hex_density

    return hex_density(_events_xy(spark, sf_dir), res=8)


def _h3_synth_sql(h64: str) -> str:
    """A VALID standard-bit-layout H3 cell id (mode 1, res 9, non-
    pentagon base cell, aperture-7 digits 1..9 from 3-bit slices of a
    60-bit hash, digits 10..15 = 7) as one integer expression, valid
    verbatim in Spark SQL and DuckDB.  Fields are bit-disjoint so
    plain + assembles them."""
    from tippecanoe_spark.operators.cellindex import H3_PENTAGONS

    bc_raw = f"({h64} % 122)"
    pent = " OR ".join(f"{bc_raw} = {p}" for p in H3_PENTAGONS)
    bc = f"(CASE WHEN {pent} THEN {bc_raw} + 1 ELSE {bc_raw} END)"
    # digit i from a 3-bit slice, folded into 0..6 with % 7 — cheap
    # shifts instead of 9 big-constant base-7 divisions (the DIV form
    # plus the validity CASEs fused into one janino method > 64 KB and
    # the whole stage fell back to interpreted mode; BENCH_r05)
    digits = " + ".join(
        f"(((({h64} >> {3 * (i - 1)}) & 7) % 7) * {1 << (3 * (15 - i))})"
        for i in range(1, 10))
    return (f"cast({1 << 59} + {9 << 52} + {bc} * {1 << 45} + {digits} "
            f"+ {(1 << 18) - 1} AS BIGINT)")


def _h3_oracle_sql() -> str:
    """DuckDB twin of q_h3_parent_rollup — the SAME bit-math expression
    strings from operators/cellindex.py (engine-neutral SQL), with
    DuckDB's hex-parse and // integer-division spellings."""
    from tippecanoe_spark.operators.cellindex import (h3_is_valid_sql,
                                                      h3_resolution_sql,
                                                      h3_to_parent_sql)

    h64 = ("(('0x' || substring(md5(cast(event_id AS varchar)), 1, 15))"
           "::BIGINT)")
    synth = _h3_synth_sql(h64)
    return ("WITH keyed AS (SELECT " + synth + " AS h3 FROM events), "
            "valid AS (SELECT h3 FROM keyed WHERE " + h3_is_valid_sql("h3")
            + " AND " + h3_resolution_sql("h3") + " = 9) "
            "SELECT " + h3_to_parent_sql("h3", 3)
            + " AS h3_parent, count(*) AS cnt FROM valid GROUP BY 1")


def q_h3_parent_rollup(spark, sf_dir):
    """H3 interop (r5): events keyed by EXTERNAL H3 cell ids — here
    synthesized deterministically in the standard 64-bit H3 bit layout,
    standing in for ids computed upstream by the real H3 library — are
    checked with the exact h3IsValid bit rules and rolled up to their
    res-3 parents (h3ToParent is pure bit math; operators/cellindex.py).
    The geographic lat/lng->H3 projection stays honestly out of scope;
    this is the join/rollup path for external H3-keyed datasets.

    Plan shape: TWO-LEVEL aggregation.  Stage 1 dedups on the raw id
    (map-side partials; synth only — compact codegen); the validity
    checks then run once per DISTINCT id in their own stage — also the
    right shape at 10^12 rows (validity cost scales with |distinct|,
    not |rows|).  The checks filter on `min(h3)` (an aggregate OUTPUT,
    identical in value to the group key) rather than the key itself:
    a predicate on a grouping column gets pushed below the aggregate
    and Catalyst substitutes the md5-based synth into every one of the
    ~50 bit checks — a filter condition hundreds of KB long whose
    generated method exceeds janino's 64 KB limit, dropping the whole
    100k-row stage to interpreted mode (~10 s, BENCH_r05).  Predicates
    on aggregate outputs cannot be pushed, so each stage stays small
    and compiled."""
    from pyspark.sql import functions as F

    from tippecanoe_spark.operators.cellindex import (h3_is_valid_checks,
                                                      h3_resolution_sql,
                                                      h3_to_parent_sql)

    ev = _load(spark, sf_dir, "events")
    h64 = ("cast(conv(substring(md5(cast(event_id AS string)), 1, 15), "
           "16, 10) AS BIGINT)")
    keyed = (ev.selectExpr(f"{_h3_synth_sql(h64)} AS h3")
             .groupBy("h3")
             .agg(F.count("*").alias("c"), F.min("h3").alias("h3v"))
             .select("h3v", "c"))
    valid = keyed
    for chk in h3_is_valid_checks("h3v"):
        valid = valid.filter(chk)
    valid = valid.filter(f"{h3_resolution_sql('h3v')} = 9")
    return (valid.selectExpr(f"{h3_to_parent_sql('h3v', 3)} AS h3_parent",
                             "c")
            .groupBy("h3_parent")
            .agg(F.expr("cast(sum(c) AS BIGINT)").alias("cnt")))


def _s2_synth_sql(h60: str) -> str:
    """A VALID leaf S2 cell id (operators/s2cell.py bit layout: 3 face
    bits, 60 Hilbert position bits, trailing 1) as one integer
    expression shared verbatim by Spark and DuckDB.  Faces 4-5 set bit
    63, i.e. the id is NEGATIVE as signed BIGINT — assembled via signed
    multiply-add ((face - 8) * 2^61) so no engine-specific unsigned
    shift semantics are involved; face 4 lands exactly on INT64_MIN +
    position, never overflowing."""
    face = "(event_id % 6)"
    high = (f"(CASE WHEN {face} >= 4 THEN {face} - 8 ELSE {face} END "
            f"* {1 << 61})")
    return f"cast({high} + {h60} * 2 + 1 AS BIGINT)"


def q_s2_parent_rollup(spark, sf_dir):
    """S2 cell density rollup (r5): events keyed by leaf S2 cell ids
    in the standard 64-bit layout — synthesized here so the DuckDB
    oracle can build bit-identical ids; the geographic lat/lng codec
    (operators/s2cell.s2_cell_from_latlng, the real Hilbert-on-cube
    projection) is exercised by tests/test_s2cell.py — validated with
    the exact is_valid bit rules and rolled up to their level-4
    ancestors.  Plan shape: one narrow bit-math projection + one hash
    aggregation with map-side partials; ids on faces 4-5 are negative
    as signed ints, which the algebra (operators/s2cell.py) is built
    for."""
    from tippecanoe_spark.operators.s2cell import (s2_is_leaf_sql,
                                                   s2_is_valid_sql,
                                                   s2_parent_rollup)

    ev = _load(spark, sf_dir, "events")
    h60 = ("cast(conv(substring(md5(cast(event_id AS string)), 1, 15), "
           "16, 10) AS BIGINT)")
    keyed = ev.selectExpr(f"{_s2_synth_sql(h60)} AS s2")
    valid = keyed.filter(s2_is_valid_sql("s2")).filter(s2_is_leaf_sql("s2"))
    return s2_parent_rollup(valid, "s2", 4)


def q_s2_containment(spark, sf_dir):
    """S2 containment join (r5): points (leaf ids) joined to a small
    region cover — the level-2 ancestors of the first 25 events' cells
    — via operators/s2cell.s2_containment_join's equi path: the region
    side BROADCASTS and the join key is parent-at-level bit math, so a
    10^12-row point table joins a region cover with no range join and
    no extra shuffle beyond the final rollup."""
    from pyspark.sql import functions as F

    from tippecanoe_spark.operators.s2cell import (s2_containment_join,
                                                   s2_parent_sql)

    ev = _load(spark, sf_dir, "events")
    h60 = ("cast(conv(substring(md5(cast(event_id AS string)), 1, 15), "
           "16, 10) AS BIGINT)")
    pts = ev.selectExpr("event_id", f"{_s2_synth_sql(h60)} AS s2")
    cells = (pts.filter("event_id < 25")
             .selectExpr(f"{s2_parent_sql('s2', 2)} AS cell").distinct())
    joined = s2_containment_join(pts, cells, idcol="s2", level=2)
    return (joined.groupBy("cell")
            .agg(F.count("*").alias("points"),
                 F.expr("cast(count(DISTINCT event_id) AS BIGINT)")
                 .alias("dist_events"))
            .selectExpr("cell AS s2_cell", "points", "dist_events"))


def _s2_containment_oracle_sql() -> str:
    from tippecanoe_spark.operators.s2cell import s2_parent_sql

    h60 = ("(('0x' || substring(md5(cast(event_id AS varchar)), 1, 15))"
           "::BIGINT)")
    return ("WITH pts AS (SELECT event_id, " + _s2_synth_sql(h60)
            + " AS s2 FROM events), "
            "cells AS (SELECT DISTINCT " + s2_parent_sql("s2", 2)
            + " AS cell FROM pts WHERE event_id < 25) "
            "SELECT cell AS s2_cell, count(*) AS points, "
            "cast(count(DISTINCT event_id) AS BIGINT) AS dist_events "
            "FROM pts JOIN cells ON " + s2_parent_sql("s2", 2)
            + " = cell GROUP BY 1")


def _s2_oracle_sql() -> str:
    """DuckDB twin of q_s2_parent_rollup — the SAME expression strings
    from operators/s2cell.py, only the hex-parse spelling differs."""
    from tippecanoe_spark.operators.s2cell import (s2_is_leaf_sql,
                                                   s2_is_valid_sql,
                                                   s2_parent_sql)

    h60 = ("(('0x' || substring(md5(cast(event_id AS varchar)), 1, 15))"
           "::BIGINT)")
    return ("WITH keyed AS (SELECT " + _s2_synth_sql(h60)
            + " AS s2 FROM events), "
            "valid AS (SELECT s2 FROM keyed WHERE " + s2_is_valid_sql("s2")
            + " AND " + s2_is_leaf_sql("s2") + ") "
            "SELECT " + s2_parent_sql("s2", 4)
            + " AS s2_cell, count(*) AS cnt FROM valid GROUP BY 1")


def _qk_expr(x: str, y: str) -> str:
    """62-bit interleave of 31-bit halves (projection.cpp:157-170 layout,
    top bit dropped to stay in signed-bigint range for both engines)."""

    def spread(v: str) -> str:
        e = f"({v} >> 1)"
        e = f"(({e} | ({e} << 16)) & 281470681808895)"      # 0x0000FFFF0000FFFF
        e = f"(({e} | ({e} << 8)) & 71777214294589695)"     # 0x00FF00FF00FF00FF
        e = f"(({e} | ({e} << 4)) & 1085102592571150095)"   # 0x0F0F0F0F0F0F0F0F
        e = f"(({e} | ({e} << 2)) & 3689348814741910323)"   # 0x3333333333333333
        e = f"(({e} | ({e} << 1)) & 6148914691236517205)"   # 0x5555555555555555
        return e

    return f"(({spread(x)} << 1) | {spread(y)})"


_QK_SPARK = _qk_expr("x32", "y32")


def q_feature_minzoom(spark, sf_dir):
    df = _events_xy(spark, sf_dir)
    df = df.selectExpr("event_id", _QK_SPARK + " AS qk62")
    from pyspark.sql.window import Window

    w = Window.orderBy("qk62", "event_id")
    df = df.withColumn("rank", F.row_number().over(w))
    return df.selectExpr(
        "event_id", "rank", _minzoom_case_sql("rank") + " AS minzoom"
    ).groupBy("minzoom").agg(F.count("*").alias("n"))


def q_zoom_rollup(spark, sf_dir):
    df = _events_xy(spark, sf_dir)
    df = df.selectExpr("x32", "y32", "explode(sequence(0, 8)) AS z")
    return (
        df.selectExpr("CAST(z AS BIGINT) AS z",
                      "x32 >> (32 - z) AS tx", "y32 >> (32 - z) AS ty")
        .groupBy("z", "tx", "ty").agg(F.count("*").alias("per_tile"))
        .groupBy("z")
        .agg(
            F.count("*").alias("tiles"),
            F.max("per_tile").alias("max_per_tile"),
            F.sum("per_tile").alias("feats"),
        )
    )


def q_bbox(spark, sf_dir):
    df = _events_xy(spark, sf_dir)
    return df.agg(
        F.min("x32").alias("minx"),
        F.min("y32").alias("miny"),
        F.max("x32").alias("maxx"),
        F.max("y32").alias("maxy"),
        F.count("*").alias("n"),
    )


def q_center_tile(spark, sf_dir):
    df = _events_xy(spark, sf_dir)
    return (
        df.selectExpr("x32 >> 24 AS tx", "y32 >> 24 AS ty")
        .groupBy("tx", "ty").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tx", "ty")
        .limit(1)
    )


def q_attr_join(spark, sf_dir):
    """tile-join CSV attribute join semantics (tile-join.cpp:231-282):
    broadcast the small side, left-join, count per appended attr."""
    ev = _events_xy(spark, sf_dir)
    nation = _load(spark, sf_dir, "nation")
    joined = ev.withColumn("nkey", (F.col("event_id") % 25).cast("int")).join(
        F.broadcast(nation), F.col("nkey") == F.col("n_nationkey"), "left"
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value")).alias("sum_value_raw"),
    ).selectExpr("n_name", "n", "round(sum_value_raw, 4) AS sum_value")


def q_attr_join_inner(spark, sf_dir):
    ev = _events_xy(spark, sf_dir)
    nation = _load(spark, sf_dir, "nation").filter("n_regionkey < 2")
    joined = ev.withColumn("nkey", (F.col("event_id") % 25).cast("int")).join(
        F.broadcast(nation), F.col("nkey") == F.col("n_nationkey"), "inner"
    )
    return joined.groupBy("n_name").agg(F.count("*").alias("n"))


def q_clip_bbox(spark, sf_dir):
    """clip-bounding-box predicate (serial.cpp:418-450) as pushed-down
    integer range filter."""
    df = _events_xy(spark, sf_dir)
    return df.filter(
        (F.col("x32") >= 1 << 30) & (F.col("x32") < 3 << 30)
        & (F.col("y32") >= 1 << 29) & (F.col("y32") < 7 << 29)
    ).agg(F.count("*").alias("n"), F.sum("x32").alias("sx"), F.sum("y32").alias("sy"))


def q_drop_fraction(spark, sf_dir):
    """--drop-fraction-as-needed modular counter (tile.cpp:1946-1955):
    keep every 4th feature per z8 tile in (quadkey, key) order."""
    from pyspark.sql.window import Window

    df = _events_xy(spark, sf_dir)
    df = df.selectExpr("event_id", "x32 >> 24 AS tx", "y32 >> 24 AS ty",
                       _QK_SPARK + " AS qk62")
    w = Window.partitionBy("tx", "ty").orderBy("qk62", "event_id")
    df = df.withColumn("rn", F.row_number().over(w))
    return (
        df.filter((F.col("rn") % 4) == 1)
        .groupBy("tx", "ty").agg(F.count("*").alias("kept"))
    )


def q_dup_points(spark, sf_dir):
    """gamma-style exact-duplicate detection per z6 tile."""
    df = _events_xy(spark, sf_dir)
    t = df.selectExpr("x32 >> 26 AS tx", "y32 >> 26 AS ty", "x32", "y32")
    return t.groupBy("tx", "ty").agg(
        F.count("*").alias("n"),
        F.countDistinct("x32", "y32").alias("n_distinct"),
    )


def q_tilestats(spark, sf_dir):
    """tilestats-style per-layer attribute stats (mbtiles.cpp:117-268):
    min/max/count per attribute over the events 'layer'."""
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.countDistinct("user_id").alias("users"),
    )


# ---- training-data pipeline ops (documents / embeddings) ----


def q_dedup_exact(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")
    return (
        docs.withColumn("h", F.md5(F.col("text")))
        .groupBy("h")
        .agg(F.count("*").alias("copies"), F.min("doc_id").alias("keeper"))
    )


def q_dedup_survivors(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")
    return (
        docs.withColumn("h", F.md5(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.countDistinct("h").alias("distinct_docs"),
        )
    )


def q_token_count(spark, sf_dir):
    """whitespace token count via pure length arithmetic (identical in
    any engine, no regex semantics involved)."""
    docs = _load(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "length(text) - length(replace(text, ' ', '')) + 1 AS tokens",
        "length(text) AS chars",
    )


def q_text_quality(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "length(text) - length(replace(text, ' ', '')) + 1 AS tokens",
        # 1.0E0: double literal (Spark parses bare 1.0 as DECIMAL(2,1))
        "round((length(text) - length(replace(text, ' ', '')) + 1) * 1.0E0 / "
        "greatest(length(text), 1), 6) AS token_density",
        "CASE WHEN length(text) >= 64 THEN 1 ELSE 0 END AS long_enough",
    )


def q_lang_stopword_score(spark, sf_dir):
    """n-gram/stopword language-id heuristic: marker-token hit counts via
    length arithmetic (engine-neutral)."""
    docs = _load(spark, sf_dir, "documents")
    def hits(word):
        padded = f"' ' || text || ' '"
        return (
            f"CAST((length({padded}) - length(replace({padded}, ' {word} ', '')))"
            f" / (length(' {word} ')) AS BIGINT)"
        )

    return docs.selectExpr(
        "doc_id",
        "lang",
        hits("the") + " AS hits_the",
        hits("scan") + " AS hits_scan",
        hits("join") + " AS hits_join",
    )


def q_fingerprint(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.countDistinct(F.md5(F.col("text"))).alias("distinct_fp"),
        F.min(F.md5(F.col("text"))).alias("min_fp"),
    )


def q_minhash_bands(spark, sf_dir):
    """MinHash over word-bigram shingles: 2 hash bands via min(md5(seed ||
    shingle)); docs sharing a band minhash are near-dup candidates."""
    docs = _load_spread(spark, sf_dir, "documents")
    sh = docs.selectExpr(
        "doc_id",
        "split(text, ' ') AS w",
    ).selectExpr(
        "doc_id",
        "explode(transform(sequence(0, size(w) - 2), "
        "i -> concat(w[i], ' ', w[i + 1]))) AS shingle",
    )
    mh = sh.groupBy("doc_id").agg(
        F.min(F.md5(F.concat(F.lit("a:"), F.col("shingle")))).alias("mh_a"),
        F.min(F.md5(F.concat(F.lit("b:"), F.col("shingle")))).alias("mh_b"),
    )
    cand = mh.groupBy("mh_a").agg(F.count("*").alias("bucket"))
    return cand.groupBy("bucket").agg(F.count("*").alias("n_buckets"))


def _banded_candidates(sh, seed_prefix: str):
    """MinHash candidate pairs from a (doc_id, shingle) relation with
    r=2 banding: per band b, two independent min-hash families
    ("<prefix><b>a:" / "<prefix><b>b:"); a pair is a candidate only
    when BOTH mins of some band agree.  The 4 band columns melt into
    (band, band_val) rows and self-join ONCE; a per-band union of
    self-joins re-evaluated the shingle aggregation 8 times (~19 s at
    sf0.1 in BENCH_r05).  The self-join plans as a BroadcastHashJoin
    with no ReusedExchange: its build side recomputes the scan,
    explode and min-md5 subtree.  That is the wall-optimal shape at
    bench scale — the build side runs concurrently with the probe
    side on otherwise idle cores, and forcing reuse (shuffle-hash
    hint) or materializing ``mh`` (localCheckpoint) measured slower
    (OPTIMIZATION_r06.md).
    Returns (d1, d2, sz1, sz2) distinct pairs, d1 < d2."""
    mh = sh.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.lit(f"{seed_prefix}{b}{t}:"),
                               F.col("shingle")))).alias(f"mh{b}{t}")
          for b in range(4) for t in ("a", "b")],
        F.count("*").alias("sz"),
    )
    melted = mh.selectExpr(
        "doc_id", "sz",
        "stack(4, " + ", ".join(
            f"{b}, concat(mh{b}a, '|', mh{b}b)" for b in range(4))
        + ") AS (band, band_val)")
    a = melted.selectExpr("doc_id AS d1", "sz AS sz1", "band", "band_val")
    c = melted.selectExpr("doc_id AS d2", "sz AS sz2", "band", "band_val")
    return (a.join(c, ["band", "band_val"]).filter("d1 < d2")
            .select("d1", "d2", "sz1", "sz2").distinct())


def q_dedup_near_verified(spark, sf_dir):
    """The full near-dup pipeline shape: MinHash band candidates
    (band-restricted pair generation — no all-pairs) verified with
    exact word-bigram Jaccard.  Survives 100x growth: candidate pairs
    come from an equi-join on (band, minhash), and the verifier only
    touches those pairs.  r6: _load_spread, so the shingle explode and
    the 8 min-md5 partial aggregates are not pinned to one scan task
    by the single-row-group input (2.06 -> 0.97 s measured)."""
    docs = _load_spread(spark, sf_dir, "documents")
    sh = docs.selectExpr("doc_id", "split(text, ' ') AS w").selectExpr(
        "doc_id",
        "explode(array_distinct(transform(sequence(0, size(w) - 2), "
        "i -> concat(w[i], ' ', w[i + 1])))) AS shingle",
    )
    # 4 bands: min(md5(seed || shingle)) per band
    cand = _banded_candidates(sh, "b")
    # exact verification: intersect shingle sets of candidate pairs only
    inter = (
        cand.join(sh.selectExpr("doc_id AS d1", "shingle"), "d1")
        .join(sh.selectExpr("doc_id AS d2", "shingle"), ["d2", "shingle"])
        .groupBy("d1", "d2", "sz1", "sz2").agg(F.count("*").alias("inter"))
    )
    return inter.selectExpr(
        "d1", "d2", "inter",
        "round(CAST(inter AS DOUBLE) / (sz1 + sz2 - inter), 6) AS jaccard"
    ).filter("jaccard >= 0.04")


def q_simhash(spark, sf_dir):
    """60-bit SimHash near-dup fingerprint, exact in both engines:
    per token, md5 -> 60 bits (15 hex chars keep conv() exact); bit b of
    the signature is 1 iff more than half the tokens have bit b set
    (equivalent to sign of sum of +/-1).  One groupBy with 60 bit-count
    aggregates — no token x 60 row explosion (scale: rows stay at token
    count, map-side partial aggregation applies)."""
    docs = _load(spark, sf_dir, "documents")
    tok = docs.selectExpr(
        "doc_id", "explode(split(text, ' ')) AS w"
    ).selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) AS h60",
    )
    aggs = [F.expr(f"sum((h60 >> {b}) & 1)").alias(f"s{b}") for b in range(60)]
    agg = tok.groupBy("doc_id").agg(F.count("*").alias("n"), *aggs)
    pieces = " + ".join(
        f"(CASE WHEN 2 * s{b} > n THEN {1 << b} ELSE 0 END)" for b in range(60)
    )
    return agg.selectExpr("doc_id", f"CAST({pieces} AS BIGINT) AS simhash")


def q_contamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3/Gopher style): flag training
    documents sharing any word n-gram with a held-out eval split
    (doc_id % 97 == 0 stands in for the benchmark suite).  Scale shape:
    the eval side of a real pipeline is a benchmark corpus — tiny next
    to 100 TB of training text — so its distinct n-gram hashes
    BROADCAST and the training side is a single map-side hash probe;
    there is no train-side self-join.  Gram length is a parameter
    (production uses 8-13); 4 here so the synthetic 20-word vocabulary
    yields non-trivial overlap.  r6: _load_spread parallelizes the
    scan-side n-gram hashing (0.85 -> 0.45 s measured)."""
    docs = _load_spread(spark, sf_dir, "documents")
    grams = (
        docs.selectExpr("doc_id", "split(text, ' ') AS w")
        .filter("size(w) >= 4")
        .selectExpr(
            "doc_id",
            "explode(array_distinct(transform(sequence(0, size(w) - 4), "
            "i -> md5(concat_ws(' ', slice(w, i + 1, 4)))))) AS g",
        )
    )
    ev = grams.filter("doc_id % 97 = 0").selectExpr("doc_id AS eval_id", "g")
    train = grams.filter("doc_id % 97 != 0")
    return (
        train.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("shared_grams"),
            F.countDistinct("eval_id").alias("eval_docs"),
        )
    )


def q_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition quality signals per document: token
    count, distinct-token fraction, top-token fraction, duplicate-
    bigram fraction.  The bigram stats are pure array expressions
    (map-side, no shuffle); the token histogram is the one shuffle,
    keyed by (doc_id, token) with map-side partial aggregation — skew
    is bounded by document length, never corpus size."""
    docs = _load(spark, sf_dir, "documents")
    base = docs.selectExpr(
        "doc_id",
        "split(text, ' ') AS w",
    ).selectExpr(
        "doc_id",
        "size(w) - 1 AS bigrams",
        "size(array_distinct(transform(sequence(0, size(w) - 2), "
        "i -> concat(w[i], ' ', w[i + 1])))) AS dist_bigrams",
        "explode(w) AS tok",
    ).filter("bigrams >= 1")
    c = base.groupBy("doc_id", "tok").agg(
        F.count("*").alias("cnt"),
        F.max("bigrams").alias("bigrams"),
        F.max("dist_bigrams").alias("dist_bigrams"),
    )
    uni = c.groupBy("doc_id").agg(
        F.expr("CAST(sum(cnt) AS BIGINT)").alias("toks"),
        F.count("*").alias("dist"),
        F.max("cnt").alias("top"),
        F.max("bigrams").alias("bigrams"),
        F.max("dist_bigrams").alias("dist_bigrams"),
    )
    return uni.selectExpr(
        "doc_id",
        "toks",
        "round(CAST(dist AS DOUBLE) / toks, 6) AS distinct_frac",
        "round(CAST(top AS DOUBLE) / toks, 6) AS top_token_frac",
        "round(1 - CAST(dist_bigrams AS DOUBLE) / bigrams, 6) AS dup_bigram_frac",
    )


def q_quota_sample(spark, sf_dir):
    """Deterministic per-language quota sampling (training-data
    mixing): a document is kept iff a uniform hash of its id falls
    under the language's quota (en 80%, others 50%).  Pure map-side
    expression + one small groupBy — the keep decision needs no state,
    so the operator is embarrassingly parallel at any corpus size and
    reproducible across runs and engines."""
    docs = _load(spark, sf_dir, "documents")
    h = ("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) "
         "AS BIGINT) % 1000")
    quota = "CASE WHEN lang = 'en' THEN 800 ELSE 500 END"
    return (
        docs.selectExpr(
            "lang",
            f"CASE WHEN {h} < {quota} THEN 1 ELSE 0 END AS keep",
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.expr("CAST(sum(keep) AS BIGINT)").alias("kept"),
        )
    )


def q_pack_sequences(spark, sf_dir):
    """Context-window sequence packing: documents are packed in doc_id
    order into fixed 256-token packs per source via a cumulative-sum
    window (pack_id = floor(tokens-before / budget)).  The window
    partitions by source — the natural parallel unit of a packing job —
    so no global ordering or driver loop is ever needed; 100 TB shape
    is one shuffle keyed by source."""
    docs = _load(spark, sf_dir, "documents")
    t = docs.selectExpr(
        "source",
        "doc_id",
        "length(text) - length(replace(text, ' ', '')) + 1 AS tokens",
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1)
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("tokens").over(w), F.lit(0))
    )
    return (
        # floor(), not CAST: DuckDB casts double->bigint by rounding,
        # Spark by truncation — floor is identical in both
        c.selectExpr("source",
                     "CAST(floor(cum_before / 256.0) AS BIGINT) AS pack_id",
                     "tokens")
        .groupBy("source", "pack_id")
        .agg(F.count("*").alias("docs"),
             F.expr("CAST(sum(tokens) AS BIGINT)").alias("pack_tokens"))
    )


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-TRIGRAM Jaccard over the FULL corpus (r5: the
    doc_id < 200 cap is gone), scale-shaped like dedup_near_verified:
    candidate pairs come from a MinHash (band, min-hash) equi-join —
    never all-pairs, never an uncapped inverted-index join whose hot
    shingles explode — and the exact set intersection touches only
    those pairs.  The trigram shingle length distinguishes it from the
    bigram dedup pipeline; threshold 0.05.  r6: _load_spread (see
    dedup_near_verified; 1.8 -> 0.9 s measured)."""
    docs = _load_spread(spark, sf_dir, "documents")
    sh = docs.selectExpr("doc_id", "split(text, ' ') AS w").selectExpr(
        "doc_id",
        "explode(array_distinct(transform(sequence(0, size(w) - 3), "
        "i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2])))) AS shingle",
    )
    cand = _banded_candidates(sh, "t")
    inter = (
        cand.join(sh.selectExpr("doc_id AS d1", "shingle"), "d1")
        .join(sh.selectExpr("doc_id AS d2", "shingle"), ["d2", "shingle"])
        .groupBy("d1", "d2", "sz1", "sz2").agg(F.count("*").alias("inter"))
    )
    return inter.selectExpr(
        "d1", "d2", "inter",
        "round(CAST(inter AS DOUBLE) / (sz1 + sz2 - inter), 6) AS jaccard"
    ).filter("jaccard >= 0.05")


def q_ann_cosine_topk(spark, sf_dir):
    """brute-force cosine top-3 neighbors for 10 query vectors; all dot
    products in integer-quantized space (floor(x*1e6)) so ranking is
    bit-identical across engines.  r6: quantization + squared norms are
    hoisted to one projection PER VECTOR instead of being re-evaluated
    inside the aggregate() lambdas PER PAIR (the candidate side used to
    be re-quantized ~10x, once per query) — same integers, same
    rounding, same rows.  Kept as JVM SQL rather than an Arrow/numpy
    pass: both filtered sides re-evaluate the projection, and two
    Python stage round-trips cost more than the per-vector transforms
    (measured r6: 0.45 s vs 1.0 s)."""
    from tippecanoe_spark.operators.ann import _dot_zip, _quant

    emb = _load(spark, sf_dir, "embeddings")
    base = emb.selectExpr(
        "vec_id",
        f"transform(embedding, x -> {_quant('x')}) AS q",
    ).selectExpr(
        "vec_id", "q",
        "aggregate(transform(q, x -> x * x), 0L, (acc, v) -> acc + v) AS n2")
    qv = base.filter("vec_id < 10").selectExpr(
        "vec_id AS qid", "q AS qe", "n2 AS na")
    cv = base.filter("vec_id >= 10").selectExpr(
        "vec_id AS cid", "q AS ce", "n2 AS nb")
    pairs = qv.crossJoin(cv)
    dot = _dot_zip("qe", "ce")
    scored = pairs.selectExpr(
        "qid", "cid",
        f"round(({dot}) / (sqrt(na) * sqrt(nb)), 6) AS sim",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return scored.withColumn("rk", F.row_number().over(w)).filter("rk <= 3") \
                 .select("qid", "rk", "cid", "sim")


def q_ann_lsh(spark, sf_dir):
    """Scalable ANN (operators.ann): multi-band sign-random-projection
    LSH (B independent bucket ids, OR-construction for recall) with the
    plane count derived from corpus size so expected bucket occupancy —
    and candidates per query — stays ~constant as N grows, then exact
    quantized-cosine re-rank over the deduped candidate union.  Hash
    joins on (band, bucket) only; no crossJoin."""
    from tippecanoe_spark.operators.ann import ann_lsh_topk, parquet_row_count

    emb = _load(spark, sf_dir, "embeddings")
    # corpus size from parquet footers (driver metadata read) so the
    # whole query is ONE Spark job — no sizing count() scan
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    return ann_lsh_topk(emb, k=3, bands=4, n=n)


def q_ann_ivf(spark, sf_dir):
    """IVF-flat ANN (operators.ann.ann_ivf_topk): candidates are
    coarse-quantized into 8 inverted lists (nearest sampled centroid),
    queries probe their 2 nearest lists, exact quantized-cosine re-rank
    inside the probed lists.  The complementary scale path to ann_lsh:
    IVF bounds per-query work to nprobe * occupancy with a broadcast
    centroid table and a map-side argmax assignment — no crossJoin."""
    from tippecanoe_spark.operators.ann import ann_ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    return ann_ivf_topk(emb, k=3, n_centroids=8, nprobe=2)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate dedup (operators.ann.
    embedding_near_dup_pairs): LSH-bucketed candidate pairs (no
    crossJoin), exact integer-quantized cosine >= 0.99, keep-smaller-id
    survivor rule.  The synthetic table has no natural near-dups (max
    pairwise cosine ~0.44), so the corpus is augmented with
    deterministic RESCALED copies (vec_id+100000, embedding * 1.25 in
    double — exactly representable, engine-identical): cosine is
    scale-invariant, so each copy is a planted near-dup of its source
    and sign-random-projection LSH provably buckets it with the source
    in every band (recall 1.0 for this class)."""
    from tippecanoe_spark.operators.ann import (embedding_near_dup_pairs,
                                                parquet_row_count, planes_for)

    emb = _load(spark, sf_dir, "embeddings")
    # the augmented corpus (originals + *1.25 copies of vec_id < 50) is
    # produced by ONE scan with a per-row explode instead of a
    # self-union: Union over two branches of the same scan trips
    # Spark's Union constraint rewrite (NoSuchElementException: key not
    # found: embedding#N) whenever this is the first query planned in a
    # session — found in r6 while dumping plans.  The row multiset is
    # identical (dup=0 → cast-to-double original, dup=1 → rescaled
    # copy), and one scan replaces two.
    aug = emb.selectExpr(
        "vec_id AS src_id", "embedding AS e0",
        "explode(CASE WHEN vec_id < 50 THEN array(0, 1) ELSE array(0) END)"
        " AS dup",
    ).selectExpr(
        "CASE WHEN dup = 1 THEN src_id + 100000 ELSE src_id END AS vec_id",
        "CASE WHEN dup = 1 THEN transform(e0, x -> CAST(x AS DOUBLE) * "
        "CAST(1.25 AS DOUBLE)) "
        "ELSE transform(e0, x -> CAST(x AS DOUBLE)) END AS embedding",
    )
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet") + 50
    return embedding_near_dup_pairs(aug, threshold=0.99, bands=2,
                                    planes=planes_for(n), n=n)


def q_knn_cell(spark, sf_dir):
    """kNN through the scale path (operators.spatial.knn_join): targets
    bucketed by quadtree cell, each query joins only its 3x3 cell
    neighborhood — no crossJoin in the plan."""
    from tippecanoe_spark.operators.spatial import knn_join

    lon_e, lat_e = _lonlat_expr()
    base = _events_xy(spark, sf_dir).selectExpr(
        "event_id", f"{lon_e} AS lon", f"{lat_e} AS lat")
    qdf = base.filter("event_id < 20").selectExpr(
        "event_id AS qid", "lon", "lat")
    tdf = base.filter("event_id >= 20")
    return knn_join(spark, qdf, tdf, k=3, cell_zoom=4,
                    id_col="event_id", qid_col="qid")


def q_embedding_norms(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")
    expr = ("aggregate(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"
            " * CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), 0L, (acc, v) -> acc + v)")
    return emb.selectExpr("label", f"{expr} AS nrm").groupBy("label").agg(
        F.count("*").alias("n"), F.sum("nrm").alias("sum_sq"),
        F.max("nrm").alias("max_sq"))


def q_rasterize(spark, sf_dir):
    """raster<->vector, forward: grid the event points at z6 with
    per-cell count and value sum (operators.raster.rasterize)."""
    from tippecanoe_spark.operators.raster import rasterize

    return rasterize(_events_xy(spark, sf_dir), zoom=6, value_col="value")


def q_raster_components(spark, sf_dir):
    """raster<->vector, backward: polygonize cells with n >= 4 into
    4-connected components via iterative min-label propagation
    (operators.raster.polygonize); the oracle states the same
    components with a recursive CTE."""
    from tippecanoe_spark.operators.raster import polygonize, rasterize

    r = rasterize(_events_xy(spark, sf_dir), zoom=6)
    return polygonize(r, zoom=6, min_count=4)


def q_events_hourly(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return ev.selectExpr(
        "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch",
        "event_type", "value",
    ).groupBy("hour_epoch", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))


def q_top_events_per_user(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 2")
        .select("user_id", "rk", "event_id", F.round("value", 6).alias("value6"))
    )


def _lonlat_expr():
    # E0 suffix: double literals in BOTH engines (Spark parses bare
    # decimals as DECIMAL, which truncates downstream arithmetic)
    return (
        f"((event_id * {_XMUL}) % {_W}) / 4294967296E0 * 360E0 - 180E0",
        f"((event_id * {_YMUL} + {_YADD}) % {_W}) / 4294967296E0 * 170E0 - 85E0",
    )


def q_pip_regions(spark, sf_dir):
    """Point-in-polygon join against a broadcast prepared-polygon layer
    (north_rule): an 8x8 grid of rectangle regions, executed through the
    real vectorized ray-cast (operators.spatial.pip_join); the oracle
    states the same containment as range predicates."""
    from tippecanoe_spark.operators.spatial import pip_join

    lon_e, lat_e = _lonlat_expr()
    pts = _events_xy(spark, sf_dir).selectExpr(
        "CAST(event_id AS STRING) AS poi_id",
        f"{lon_e} AS lon",
        f"{lat_e} AS lat",
    )
    polys = []
    for gx in range(8):
        for gy in range(8):
            x0 = -180.0 + gx * 45.0
            y0 = -90.0 + gy * 22.5
            ring = [(x0, y0), (x0 + 45.0, y0), (x0 + 45.0, y0 + 22.5),
                    (x0, y0 + 22.5), (x0, y0)]
            polys.append((f"r{gx}_{gy}", [ring]))
    joined = pip_join(spark, pts, polys)
    return joined.groupBy("region_id").agg(F.count("*").alias("n"))


def q_knn_brute(spark, sf_dir):
    """Exact brute-force k=3 nearest neighbors (the ANN baseline) for 20
    query points over the synthetic event coordinates."""
    from pyspark.sql.window import Window

    lon_e, lat_e = _lonlat_expr()
    base = _events_xy(spark, sf_dir).selectExpr(
        "event_id", f"{lon_e} AS lon", f"{lat_e} AS lat")
    qdf = base.filter("event_id < 20").selectExpr(
        "event_id AS qid", "lon AS qlon", "lat AS qlat")
    tdf = base.filter("event_id >= 20")
    cand = qdf.crossJoin(tdf).selectExpr(
        "qid", "event_id",
        "round((qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat), 8) AS d2",
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("event_id"))
    return cand.withColumn("rk", F.row_number().over(w)).filter("rk <= 3")                .select("qid", "rk", "event_id", "d2")


def _inv_mercator(x32, y32):
    """World 32-bit grid ints -> (lon, lat), vectorized (the inverse of
    projection.lonlat2tile) — numpy in BOTH the distributed and the
    driver-side verification paths so results are bit-identical."""
    import numpy as np

    x32 = np.asarray(x32, dtype=np.float64)
    y32 = np.asarray(y32, dtype=np.float64)
    lon = x32 / 4294967296.0 * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y32 / 4294967296.0))))
    return lon, lat


def _event_feature_recs(event_ids, x32, y32, cfg, mixed=False):
    """Deterministic event -> feature records; pure function of the rows
    so the distributed and local construction are identical.  With
    mixed=True, every 10th event becomes a triangle polygon and every
    other 10th a 3-point line (exercising clip/simplify/polyclean),
    else single points."""
    import numpy as np

    from tippecanoe_spark.io.geojson import import_feature

    lon, lat = _inv_mercator(x32, y32)
    recs = []
    for i in range(len(event_ids)):
        eid = int(event_ids[i])
        lo, la = float(lon[i]), float(lat[i])
        if mixed and eid % 10 == 8:
            t = 3  # polygon: a triangle around the point
            pts = [(1, lo, la), (2, lo + 0.4, la), (2, lo + 0.2, la + 0.25),
                   (2, lo, la), (7, 0.0, 0.0)]
        elif mixed and eid % 10 == 9:
            t = 2  # 3-point line
            pts = [(1, lo, la), (2, lo + 0.3, la + 0.15), (2, lo + 0.6, la - 0.1)]
        else:
            t = 1
            pts = [(1, lo, la)]
        rec = import_feature(pts, t, "events", eid, False, 0, -1, -1,
                             ["eid"], [2], [str(eid)], cfg)
        if rec is not None:
            recs.append(rec)
    return recs


def q_tile_pyramid(spark, sf_dir):
    """The flagship operator itself: build the z0-8 tile pyramid over
    event-derived points through the real engine (clip, fan-out, drop
    ladder, simplify, quantize, MVT+gzip).  Non-SQL-expressible: the
    driver records the rows-only check for this entry — so the function
    self-verifies first: a deterministic MIXED-GEOMETRY subset (points,
    lines, and polygons — exercising clip, simplify, and the polygon
    union under Spark) is built through BOTH the distributed pipeline
    and the pure-Python reference runner (build_tiles_local, the
    parity-suite engine) and every tile must be byte-identical, else
    this raises."""
    from tippecanoe_spark.config import TileConfig
    from tippecanoe_spark.pipeline import (FEATURE_SCHEMA_DDL, build_tiles,
                                           build_tiles_local, features_to_pdf)

    cfg = TileConfig(maxzoom=8)
    ev = _events_xy(spark, sf_dir).select("event_id", "x32", "y32")

    # ---- self-verification on a deterministic mixed-geometry subset ----
    sub_cfg = TileConfig(maxzoom=6)
    sub = ev.filter("event_id < 1500")
    sub_rows = sub.collect()
    local_feats = _event_feature_recs(
        [r["event_id"] for r in sub_rows],
        [r["x32"] for r in sub_rows],
        [r["y32"] for r in sub_rows], sub_cfg, mixed=True)
    local_tiles = build_tiles_local(local_feats, sub_cfg)

    def to_sub_features(it):
        for pdf in it:
            recs = _event_feature_recs(
                pdf["event_id"].to_numpy(), pdf["x32"].to_numpy(),
                pdf["y32"].to_numpy(), sub_cfg, mixed=True)
            if recs:
                yield features_to_pdf(recs)

    sub_feats = sub.mapInPandas(to_sub_features, schema=FEATURE_SCHEMA_DDL)
    spark_tiles = {(r["z"], r["x"], r["y"]): bytes(r["tile"])
                   for r in build_tiles(spark, sub_feats, sub_cfg).collect()}
    if spark_tiles != local_tiles:
        only_s = set(spark_tiles) - set(local_tiles)
        only_l = set(local_tiles) - set(spark_tiles)
        diff = [k for k in spark_tiles if k in local_tiles
                and spark_tiles[k] != local_tiles[k]]
        raise AssertionError(
            f"tile_pyramid self-check failed: spark-only={sorted(only_s)[:5]} "
            f"local-only={sorted(only_l)[:5]} byte-diff={sorted(diff)[:5]}")

    def to_features(it):
        for pdf in it:
            # vectorized inverse projection; per-row work is only the
            # real import path (serialize_feature semantics)
            recs = _event_feature_recs(
                pdf["event_id"].to_numpy(), pdf["x32"].to_numpy(),
                pdf["y32"].to_numpy(), cfg)
            if recs:
                yield features_to_pdf(recs)

    feats = ev.mapInPandas(to_features, schema=FEATURE_SCHEMA_DDL)
    tiles = build_tiles(spark, feats, cfg)
    return tiles.selectExpr("z", "x", "y", "length(tile) AS tile_bytes")


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: a deterministic synthetic media
    table (binary payload + typed metadata) is built distributed, the
    stub image decoder + feature extractor runs via Arrow-batched
    mapInPandas, and video rows are frame-sampled.  Non-SQL-expressible
    (md5-derived payloads), so the entry SELF-VERIFIES: the distributed
    result must equal the same kernels run locally in pandas, else this
    raises.  Returns per-media feature rows."""
    import pandas as pd

    from tippecanoe_spark.io.multimodal import (MEDIA_SCHEMA_DDL,
                                                image_features,
                                                synth_media_pdf)

    n = 300

    def gen(it):
        for pdf in it:
            for r in pdf.itertuples(index=False):
                lo = int(r.id) * 50
                yield synth_media_pdf(50, seed=7, start=lo)

    media = spark.range(n // 50).mapInPandas(gen, schema=MEDIA_SCHEMA_DDL)
    feats = image_features(spark, media)
    got = feats.toPandas().sort_values("media_id").reset_index(drop=True)

    # local reference computation with the same kernels (decode_image
    # is the REAL pure-stdlib PNG decoder for the PNG payloads
    # synth_media_pdf now emits)
    from tippecanoe_spark.io.multimodal import decode_image

    local = synth_media_pdf(n, seed=7)
    rows = []
    for r in local[local["kind"] == "image"].itertuples(index=False):
        import numpy as np

        img = decode_image(bytes(r.payload), r.width, r.height)
        if img.ndim == 3:
            img = img.astype(np.float64).mean(axis=2)
        rows.append({"media_id": r.media_id, "mean": float(img.mean()),
                     "std": float(img.std()),
                     "edges": int(np.abs(np.diff(img.astype(np.float64), axis=1)).sum())})
    want = pd.DataFrame(rows).sort_values("media_id").reset_index(drop=True)
    if not got.equals(want):
        raise AssertionError("multimodal self-check failed: distributed "
                             "image_features != local kernels")
    return feats


def q_multimodal_av(spark, sf_dir):
    """Audio/video multimodal kernels end-to-end (r5: REAL codecs —
    RIFF/WAVE PCM decode for audio, animated-GIF LZW decode + PNG
    re-encode for sampled video frames).  Non-SQL-expressible
    (codec-derived payloads), so the entry SELF-VERIFIES: the
    distributed audio features must equal the local kernel run, and
    every sampled frame must PNG-decode back to the palette-resolved
    source GIF frame.  Returns one row per medium: audio rows carry
    (n_units=samples, m1=rms, m2=zero_crossings); video rows carry
    (n_units=frames sampled, m1=mean pixel over sampled frames,
    m2=total duration ms)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tippecanoe_spark.io.multimodal import (MEDIA_SCHEMA_DDL,
                                                audio_features, decode_gif,
                                                decode_png, decode_wav,
                                                frame_sample, synth_media_pdf)

    n = 300

    def gen(it):
        for pdf in it:
            for r in pdf.itertuples(index=False):
                yield synth_media_pdf(50, seed=11, start=int(r.id) * 50)

    media = spark.range(n // 50).mapInPandas(gen, schema=MEDIA_SCHEMA_DDL)
    aud = audio_features(spark, media)
    frames = frame_sample(spark, media, every_ms=100)

    def frame_stats(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_png(bytes(r.frame))
                rows.append({"media_id": r.media_id,
                             "frame_idx": int(r.frame_idx),
                             "pix_mean": float(img.astype(np.float64).mean())})
            if rows:
                yield pd.DataFrame(rows)

    fstats = frames.mapInPandas(
        frame_stats, schema="media_id long, frame_idx int, pix_mean double")
    vid = (fstats.groupBy("media_id")
           .agg(F.count("*").alias("n_units"),
                F.avg("pix_mean").alias("m1"))
           .join(media.select("media_id",
                              F.col("duration_ms").cast("double").alias("m2")),
                 "media_id"))
    out = (aud.select("media_id", F.lit("audio").alias("kind"),
                      F.col("n_samples").alias("n_units"),
                      F.col("rms").alias("m1"),
                      F.col("zero_crossings").cast("double").alias("m2"))
           .unionByName(vid.select("media_id", F.lit("video").alias("kind"),
                                   "n_units", "m1", "m2")))

    # ---- self-check: distributed == local kernels
    got = out.toPandas().sort_values("media_id").reset_index(drop=True)
    local = synth_media_pdf(n, seed=11)
    rows = []
    for r in local.itertuples(index=False):
        if r.kind == "audio":
            s, rate, _ = decode_wav(bytes(r.payload))
            s = s.astype(np.float64)
            rows.append({"media_id": r.media_id, "kind": "audio",
                         "n_units": len(s),
                         "m1": float(np.sqrt((s * s).mean())),
                         "m2": float((np.signbit(s[1:])
                                      != np.signbit(s[:-1])).sum())})
        elif r.kind == "video":
            gframes, pals, delays = decode_gif(bytes(r.payload))
            ends = np.cumsum([(d if d > 0 else 10) * 10 for d in delays])
            means = []
            for k, t in enumerate(range(0, max(int(ends[-1]), 1), 100)):
                if k >= 16:
                    break
                fi = min(int(np.searchsorted(ends, t, side="right")),
                         len(gframes) - 1)
                means.append(
                    float(pals[fi][gframes[fi]].astype(np.float64).mean()))
            rows.append({"media_id": r.media_id, "kind": "video",
                         "n_units": len(means),
                         "m1": float(np.mean(means)),
                         "m2": float(r.duration_ms)})
    want = pd.DataFrame(rows).sort_values("media_id").reset_index(drop=True)
    want["n_units"] = want["n_units"].astype("int64")
    if not np.allclose(got["m1"].to_numpy(), want["m1"].to_numpy(), atol=1e-9) \
            or not got["n_units"].equals(want["n_units"]) \
            or not np.allclose(got["m2"].to_numpy(), want["m2"].to_numpy()) \
            or list(got["kind"]) != list(want["kind"]):
        raise AssertionError("multimodal_av self-check failed: distributed "
                             "audio/video kernels != local reference")
    return out


def q_tpch_q1ish(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tile_assign_z10": q_tile_assign_z10,
        "quadkey": q_quadkey,
        "hex_density": q_hex_density,
        "h3_parent_rollup": q_h3_parent_rollup,
        "s2_parent_rollup": q_s2_parent_rollup,
        "s2_containment": q_s2_containment,
        "feature_minzoom": q_feature_minzoom,
        "zoom_rollup": q_zoom_rollup,
        "bbox": q_bbox,
        "center_tile": q_center_tile,
        "attr_join": q_attr_join,
        "attr_join_inner": q_attr_join_inner,
        "clip_bbox": q_clip_bbox,
        "drop_fraction": q_drop_fraction,
        "dup_points": q_dup_points,
        "tilestats": q_tilestats,
        "dedup_exact": q_dedup_exact,
        "dedup_survivors": q_dedup_survivors,
        "token_count": q_token_count,
        "text_quality": q_text_quality,
        "lang_stopword_score": q_lang_stopword_score,
        "fingerprint": q_fingerprint,
        "minhash_bands": q_minhash_bands,
        "dedup_near_verified": q_dedup_near_verified,
        "simhash": q_simhash,
        "contamination": q_contamination,
        "repetition_metrics": q_repetition_metrics,
        "quota_sample": q_quota_sample,
        "pack_sequences": q_pack_sequences,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "dedup_embedding": q_dedup_embedding,
        "knn_cell": q_knn_cell,
        "embedding_norms": q_embedding_norms,
        "rasterize": q_rasterize,
        "raster_components": q_raster_components,
        "events_hourly": q_events_hourly,
        "top_events_per_user": q_top_events_per_user,
        "pip_regions": q_pip_regions,
        "knn_brute": q_knn_brute,
        "tile_pyramid": q_tile_pyramid,
        "multimodal_features": q_multimodal_features,
        "multimodal_av": q_multimodal_av,
        "tpch_q1ish": q_tpch_q1ish,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles


def _duck_xy_cte() -> str:
    return (
        "WITH exy AS (SELECT event_id, event_type, user_id, value, ts, "
        f"(event_id * {_XMUL}) % {_W} AS x32, "
        f"(event_id * {_YMUL} + {_YADD}) % {_W} AS y32 FROM events)"
    )


_QK_DUCK = _qk_expr("x32", "y32")

from tippecanoe_spark.operators.cellindex import hex_cell_sql_duckdb as _hex_duck

_HEXQ_DUCK, _HEXR_DUCK = _hex_duck("x32", "y32", 8)


def _ann_lsh_oracle() -> str:
    """DuckDB mirror of q_ann_lsh.  The correctness run is at sf0.01
    where `embeddings` has 500 rows, so the oracle bakes in
    planes_for(500) — the same derivation ann_lsh_topk applies at
    runtime."""
    from tippecanoe_spark.operators.ann import ann_lsh_oracle_sql, planes_for

    return ann_lsh_oracle_sql(k=3, bands=4, planes=planes_for(500))


def _ann_ivf_oracle() -> str:
    from tippecanoe_spark.operators.ann import ann_ivf_oracle_sql

    return ann_ivf_oracle_sql(k=3, n_centroids=8, nprobe=2)


def _dedup_embedding_oracle() -> str:
    """DuckDB mirror of q_dedup_embedding: same augmented corpus
    (double-cast originals + *1.25 rescaled copies of vec_id < 50),
    same LSH buckets, same quantized cosine and threshold."""
    from tippecanoe_spark.operators.ann import (embedding_near_dup_oracle_sql,
                                                planes_for)

    aug = ("aug AS ("
           "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
           "AS embedding FROM embeddings "
           "UNION ALL "
           "SELECT vec_id + 100000 AS vec_id, "
           "list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.25) "
           "AS embedding FROM embeddings WHERE vec_id < 50)")
    body = embedding_near_dup_oracle_sql(
        threshold=0.99, bands=2, planes=planes_for(550), source_cte="aug")
    return f"WITH {aug}, {body}"


def oracle_sql() -> dict[str, str]:
    xy = _duck_xy_cte()
    mz = _minzoom_case_sql("rank")
    return {
        "tile_assign_z10": xy + " SELECT x32 >> 22 AS tx, y32 >> 22 AS ty, "
        "count(*) AS n FROM exy GROUP BY 1, 2",
        "quadkey": xy + f" SELECT event_id, {_QK_DUCK} AS qk62 FROM exy ORDER BY event_id",
        "hex_density": xy + f" SELECT {_HEXQ_DUCK} AS hq, {_HEXR_DUCK} AS hr, "
        "count(*) AS cnt FROM exy GROUP BY 1, 2",
        "h3_parent_rollup": _h3_oracle_sql(),
        "s2_parent_rollup": _s2_oracle_sql(),
        "s2_containment": _s2_containment_oracle_sql(),
        "feature_minzoom": xy + f", r AS (SELECT event_id, "
        f"row_number() OVER (ORDER BY {_QK_DUCK}, event_id) AS rank FROM exy) "
        f"SELECT {mz} AS minzoom, count(*) AS n FROM r GROUP BY 1",
        "zoom_rollup": xy + " , zz AS (SELECT x32, y32, z FROM exy, "
        "(SELECT unnest(generate_series(0, 8)) AS z)) , per AS ("
        "SELECT z, x32 >> (32 - z) AS tx, y32 >> (32 - z) AS ty, "
        "count(*) AS per_tile FROM zz GROUP BY 1, 2, 3) "
        # CAST: DuckDB sum(BIGINT) returns HUGEINT; Spark returns BIGINT
        "SELECT z, count(*) AS tiles, max(per_tile) AS max_per_tile, "
        "CAST(sum(per_tile) AS BIGINT) AS feats FROM per GROUP BY 1",
        "bbox": xy + " SELECT min(x32) AS minx, min(y32) AS miny, "
        "max(x32) AS maxx, max(y32) AS maxy, count(*) AS n FROM exy",
        "center_tile": xy + " SELECT x32 >> 24 AS tx, y32 >> 24 AS ty, "
        "count(*) AS n FROM exy GROUP BY 1, 2 ORDER BY n DESC, tx, ty LIMIT 1",
        "attr_join": xy + " SELECT n_name, count(*) AS n, "
        "round(sum(value), 4) AS sum_value FROM exy "
        "LEFT JOIN nation ON (event_id % 25) = n_nationkey GROUP BY 1",
        "attr_join_inner": xy + " SELECT n_name, count(*) AS n FROM exy "
        "JOIN (SELECT * FROM nation WHERE n_regionkey < 2) n "
        "ON (event_id % 25) = n_nationkey GROUP BY 1",
        "clip_bbox": xy + f" SELECT count(*) AS n, CAST(sum(x32) AS BIGINT) AS sx, "
        f"CAST(sum(y32) AS BIGINT) AS sy "
        f"FROM exy WHERE x32 >= {1 << 30} AND x32 < {3 << 30} "
        f"AND y32 >= {1 << 29} AND y32 < {7 << 29}",
        "drop_fraction": xy + f" , r AS (SELECT event_id, x32 >> 24 AS tx, "
        f"y32 >> 24 AS ty, row_number() OVER (PARTITION BY x32 >> 24, y32 >> 24 "
        f"ORDER BY {_QK_DUCK}, event_id) AS rn FROM exy) "
        "SELECT tx, ty, count(*) AS kept FROM r WHERE rn % 4 = 1 GROUP BY 1, 2",
        "dup_points": xy + " SELECT x32 >> 26 AS tx, y32 >> 26 AS ty, "
        "count(*) AS n, count(DISTINCT (x32, y32)) AS n_distinct "
        "FROM exy GROUP BY 1, 2",
        "tilestats": "SELECT event_type, count(*) AS n, "
        "round(min(value), 6) AS min_value, round(max(value), 6) AS max_value, "
        "count(DISTINCT user_id) AS users FROM events GROUP BY 1",
        "dedup_exact": "SELECT md5(text) AS h, count(*) AS copies, "
        "min(doc_id) AS keeper FROM documents GROUP BY 1",
        "dedup_survivors": "SELECT lang, count(*) AS docs, "
        "count(DISTINCT md5(text)) AS distinct_docs FROM documents GROUP BY 1",
        "token_count": "SELECT doc_id, length(text) - "
        "length(replace(text, ' ', '')) + 1 AS tokens, length(text) AS chars "
        "FROM documents",
        "text_quality": "SELECT doc_id, "
        "length(text) - length(replace(text, ' ', '')) + 1 AS tokens, "
        "round((length(text) - length(replace(text, ' ', '')) + 1) * 1.0E0 / "
        "greatest(length(text), 1), 6) AS token_density, "
        "CASE WHEN length(text) >= 64 THEN 1 ELSE 0 END AS long_enough "
        "FROM documents",
        "lang_stopword_score": "SELECT doc_id, lang, "
        "CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', "
        "' the ', ''))) / length(' the ') AS BIGINT) AS hits_the, "
        "CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', "
        "' scan ', ''))) / length(' scan ') AS BIGINT) AS hits_scan, "
        "CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', "
        "' join ', ''))) / length(' join ') AS BIGINT) AS hits_join "
        "FROM documents",
        "fingerprint": "SELECT source, count(*) AS docs, "
        "count(DISTINCT md5(text)) AS distinct_fp, min(md5(text)) AS min_fp "
        "FROM documents GROUP BY 1",
        "minhash_bands": "WITH sh AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS shingle "
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
        "LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)), "
        "mh AS (SELECT doc_id, min(md5('a:' || shingle)) AS mh_a, "
        "min(md5('b:' || shingle)) AS mh_b FROM sh GROUP BY 1), "
        "cand AS (SELECT mh_a, count(*) AS bucket FROM mh GROUP BY 1) "
        "SELECT bucket, count(*) AS n_buckets FROM cand GROUP BY 1",
        "dedup_near_verified": "WITH sh AS (SELECT DISTINCT doc_id, "
        "w[i] || ' ' || w[i+1] AS shingle FROM (SELECT doc_id, "
        "string_split(text, ' ') AS w FROM documents), "
        "LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)), "
        "mh AS (SELECT doc_id, "
        + ", ".join(f"min(md5('b{b}{t}:' || shingle)) AS mh{b}{t}" for b in range(4) for t in ("a", "b"))
        + ", count(*) AS sz FROM sh GROUP BY 1), "
        "cand AS ("
        + " UNION ".join(
            f"SELECT a.doc_id AS d1, b.doc_id AS d2, a.sz AS sz1, b.sz AS sz2 "
            f"FROM mh a JOIN mh b ON a.mh{b}a = b.mh{b}a "
            f"AND a.mh{b}b = b.mh{b}b AND a.doc_id < b.doc_id"
            for b in range(4))
        + "), inter AS (SELECT d1, d2, sz1, sz2, count(*) AS inter FROM cand "
        "JOIN sh s1 ON s1.doc_id = d1 JOIN sh s2 ON s2.doc_id = d2 "
        "AND s1.shingle = s2.shingle GROUP BY 1, 2, 3, 4) "
        "SELECT d1, d2, inter, round(CAST(inter AS DOUBLE) / (sz1 + sz2 - inter), 6) "
        "AS jaccard FROM inter "
        "WHERE round(CAST(inter AS DOUBLE) / (sz1 + sz2 - inter), 6) >= 0.04",
        "simhash": "WITH tok AS (SELECT doc_id, "
        "CAST(('0x' || substring(md5(w), 1, 15))::BIGINT AS BIGINT) AS h60 "
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)), "
        "agg AS (SELECT doc_id, count(*) AS n, "
        + ", ".join(f"CAST(sum((h60 >> {b}) & 1) AS BIGINT) AS s{b}"
                    for b in range(60))
        + " FROM tok GROUP BY 1) SELECT doc_id, CAST("
        + " + ".join(f"(CASE WHEN 2 * s{b} > n THEN {1 << b} ELSE 0 END)"
                     for b in range(60))
        + " AS BIGINT) AS simhash FROM agg",
        "contamination": "WITH base AS (SELECT doc_id, "
        "string_split(text, ' ') AS w FROM documents "
        "WHERE len(string_split(text, ' ')) >= 4), "
        "g AS (SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+3], ' ')) AS g "
        "FROM base, LATERAL (SELECT unnest(generate_series(1, len(w) - 3)) AS i) t), "
        "ev AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id % 97 = 0), "
        "tr AS (SELECT doc_id, g FROM g WHERE doc_id % 97 != 0) "
        "SELECT tr.doc_id, count(DISTINCT tr.g) AS shared_grams, "
        "count(DISTINCT eval_id) AS eval_docs "
        "FROM tr JOIN ev USING (g) GROUP BY 1",
        "repetition_metrics": "WITH base AS (SELECT doc_id, "
        "string_split(text, ' ') AS w FROM documents), "
        "bg AS (SELECT doc_id, len(w) - 1 AS bigrams, "
        "len(list_distinct(list_transform(range(1, len(w)), "
        "i -> w[i] || ' ' || w[i+1]))) AS dist_bigrams "
        "FROM base WHERE len(w) >= 2), "
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok "
        "FROM documents), "
        "c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2), "
        "uni AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS toks, "
        "count(*) AS dist, max(cnt) AS top FROM c GROUP BY 1) "
        "SELECT uni.doc_id, toks, "
        "round(CAST(dist AS DOUBLE) / toks, 6) AS distinct_frac, "
        "round(CAST(top AS DOUBLE) / toks, 6) AS top_token_frac, "
        "round(1 - CAST(dist_bigrams AS DOUBLE) / bigrams, 6) AS dup_bigram_frac "
        "FROM uni JOIN bg ON uni.doc_id = bg.doc_id",
        "quota_sample": "SELECT lang, count(*) AS total, "
        "CAST(sum(CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), "
        "1, 15))::BIGINT % 1000 < "
        "CASE WHEN lang = 'en' THEN 800 ELSE 500 END THEN 1 ELSE 0 END) "
        "AS BIGINT) AS kept FROM documents GROUP BY 1",
        "pack_sequences": "WITH t AS (SELECT source, doc_id, "
        "length(text) - length(replace(text, ' ', '')) + 1 AS tokens "
        "FROM documents), "
        "c AS (SELECT source, doc_id, tokens, "
        "COALESCE(CAST(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) "
        "AS cum_before FROM t) "
        "SELECT source, CAST(floor(cum_before / 256.0) AS BIGINT) AS pack_id, "
        "count(*) AS docs, CAST(sum(tokens) AS BIGINT) AS pack_tokens "
        "FROM c GROUP BY 1, 2",
        "ngram_jaccard": "WITH sh AS (SELECT DISTINCT doc_id, "
        "w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM (SELECT doc_id, "
        "string_split(text, ' ') AS w FROM documents), "
        "LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)), "
        "mh AS (SELECT doc_id, "
        + ", ".join(f"min(md5('t{b}{t}:' || shingle)) AS mh{b}{t}" for b in range(4) for t in ("a", "b"))
        + ", count(*) AS sz FROM sh GROUP BY 1), "
        "cand AS ("
        + " UNION ".join(
            f"SELECT a.doc_id AS d1, b.doc_id AS d2, a.sz AS sz1, b.sz AS sz2 "
            f"FROM mh a JOIN mh b ON a.mh{b}a = b.mh{b}a "
            f"AND a.mh{b}b = b.mh{b}b AND a.doc_id < b.doc_id"
            for b in range(4))
        + "), inter AS (SELECT d1, d2, sz1, sz2, count(*) AS inter FROM cand "
        "JOIN sh s1 ON s1.doc_id = d1 JOIN sh s2 ON s2.doc_id = d2 "
        "AND s1.shingle = s2.shingle GROUP BY 1, 2, 3, 4) "
        "SELECT d1, d2, inter, round(CAST(inter AS DOUBLE) / (sz1 + sz2 - inter), 6) "
        "AS jaccard FROM inter "
        "WHERE round(CAST(inter AS DOUBLE) / (sz1 + sz2 - inter), 6) >= 0.05",
        "ann_cosine_topk": "WITH q AS (SELECT vec_id AS qid, "
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe "
        "FROM embeddings WHERE vec_id < 10), c AS (SELECT vec_id AS cid, "
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ce "
        "FROM embeddings WHERE vec_id >= 10), scored AS (SELECT qid, cid, "
        "round(list_sum(list_transform(generate_series(1, len(qe)), "
        "i -> qe[i] * ce[i])) / (sqrt(list_sum(list_transform(qe, x -> x * x))) * "
        "sqrt(list_sum(list_transform(ce, x -> x * x)))), 6) AS sim "
        "FROM q, c), ranked AS (SELECT qid, cid, sim, row_number() OVER ("
        "PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rk FROM scored) "
        "SELECT qid, rk, cid, sim FROM ranked WHERE rk <= 3",
        "ann_lsh": _ann_lsh_oracle(),
        "ann_ivf": _ann_ivf_oracle(),
        "dedup_embedding": _dedup_embedding_oracle(),
        "knn_cell": xy + ", pts AS (SELECT event_id, "
        "((event_id * 2654435761) % 4294967296) / 4294967296E0 * 360E0 - 180E0 AS lon, "
        "((event_id * 2246822519 + 3266489917) % 4294967296) / 4294967296E0 * 170E0 - 85E0 AS lat "
        "FROM exy), cells AS (SELECT event_id, lon, lat, "
        "CAST(floor((lon + 180.0) / 360.0 * 16) AS BIGINT) AS cx, "
        "CAST(floor((lat + 90.0) / 180.0 * 16) AS BIGINT) AS cy FROM pts), "
        "q AS (SELECT event_id AS qid, lon AS qlon, lat AS qlat, cx AS qcx, cy AS qcy "
        "FROM cells WHERE event_id < 20), t AS (SELECT * FROM cells WHERE event_id >= 20), "
        "cand AS (SELECT qid, event_id, "
        "round((qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat), 10) AS d2 "
        "FROM q JOIN t ON t.cx BETWEEN qcx - 1 AND qcx + 1 AND t.cy BETWEEN qcy - 1 AND qcy + 1), "
        "r AS (SELECT qid, event_id, d2, row_number() OVER (PARTITION BY qid "
        "ORDER BY d2 ASC, event_id ASC) AS rk FROM cand) "
        "SELECT qid, rk, event_id, d2 FROM r WHERE rk <= 3",
        # CAST nrm: DuckDB list_sum(BIGINT[]) returns HUGEINT
        "embedding_norms": "WITH n AS (SELECT label, "
        "CAST(list_sum(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) "
        "* CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS nrm FROM embeddings) "
        "SELECT label, count(*) AS n, CAST(sum(nrm) AS BIGINT) AS sum_sq, "
        "max(nrm) AS max_sq FROM n GROUP BY 1",
        "rasterize": xy + " SELECT x32 >> 26 AS cell_x, y32 >> 26 AS cell_y, "
        "count(*) AS n, round(sum(value), 4) AS sum_value FROM exy GROUP BY 1, 2",
        "raster_components": xy + ", cells AS ("
        "SELECT x32 >> 26 AS cell_x, y32 >> 26 AS cell_y, count(*) AS n "
        "FROM exy GROUP BY 1, 2 HAVING count(*) >= 4), "
        "ids AS (SELECT cell_x, cell_y, n, cell_y * 64 + cell_x AS id FROM cells), "
        "edges AS (SELECT a.id AS src, b.id AS dst FROM ids a JOIN ids b ON "
        "(abs(a.cell_x - b.cell_x) + abs(a.cell_y - b.cell_y)) = 1), "
        "reach AS (WITH RECURSIVE r(id, lbl) AS ("
        "SELECT id, id FROM ids UNION "
        "SELECT e.src, r.lbl FROM r JOIN edges e ON e.dst = r.id) "
        "SELECT id, min(lbl) AS component FROM r GROUP BY 1) "
        "SELECT component, count(*) AS cells, min(cell_x) AS min_x, "
        "min(cell_y) AS min_y, max(cell_x) AS max_x, max(cell_y) AS max_y, "
        "CAST(sum(n) AS BIGINT) AS total_n "
        "FROM ids JOIN reach ON ids.id = reach.id GROUP BY 1",
        "events_hourly": "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) "
        "AS hour_epoch, event_type, count(*) AS n, round(sum(value), 4) AS "
        "sum_value FROM events GROUP BY 1, 2",
        "top_events_per_user": "WITH r AS (SELECT user_id, event_id, value, "
        "row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) "
        "AS rk FROM events) SELECT user_id, rk, event_id, round(value, 6) AS value6 "
        "FROM r WHERE rk <= 2",
        "pip_regions": xy + ", pts AS (SELECT "
        "((event_id * 2654435761) % 4294967296) / 4294967296E0 * 360E0 - 180E0 AS lon, "
        "((event_id * 2246822519 + 3266489917) % 4294967296) / 4294967296E0 * 170E0 - 85E0 AS lat "
        "FROM exy) SELECT 'r' || CAST(CAST(floor((lon + 180.0) / 45.0) AS BIGINT) AS VARCHAR) "
        "|| '_' || CAST(CAST(floor((lat + 90.0) / 22.5) AS BIGINT) AS VARCHAR) AS region_id, "
        "count(*) AS n FROM pts GROUP BY 1",
        "knn_brute": xy + ", pts AS (SELECT event_id, "
        "((event_id * 2654435761) % 4294967296) / 4294967296E0 * 360E0 - 180E0 AS lon, "
        "((event_id * 2246822519 + 3266489917) % 4294967296) / 4294967296E0 * 170E0 - 85E0 AS lat "
        "FROM exy), q AS (SELECT event_id AS qid, lon AS qlon, lat AS qlat FROM pts "
        "WHERE event_id < 20), t AS (SELECT * FROM pts WHERE event_id >= 20), "
        "cand AS (SELECT qid, event_id, round((qlon - lon) * (qlon - lon) + "
        "(qlat - lat) * (qlat - lat), 8) AS d2 FROM q, t), "
        "r AS (SELECT qid, event_id, d2, row_number() OVER (PARTITION BY qid "
        "ORDER BY d2 ASC, event_id ASC) AS rk FROM cand) "
        "SELECT qid, rk, event_id, d2 FROM r WHERE rk <= 3",
        "tpch_q1ish": "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 4) AS sum_qty, "
        "round(sum(l_extendedprice), 4) AS sum_base_price, "
        "count(*) AS count_order FROM lineitem "
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1, 2",
    }


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """End-to-end flagship: synthesize 600 Common-Crawl-style pages,
    extract embedded GeoJSON, build the z0-6 tile pyramid, return the
    tile summary (z, x, y, bytes)."""
    from tippecanoe_spark.config import TileConfig
    from tippecanoe_spark.io.pages import extract_features_df, pages_df
    from tippecanoe_spark.pipeline import build_tiles

    cfg = TileConfig(maxzoom=6)
    pages = pages_df(spark, 600, seed=42)
    feats = extract_features_df(spark, pages, cfg)
    tiles = build_tiles(spark, feats, cfg)
    return tiles.selectExpr("z", "x", "y", "length(tile) AS tile_bytes")
