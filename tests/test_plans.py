"""The plan rule of scripts/check_oracle.py (``plan_facts``) on tiny
frames, and the plan claims the spatial operators make on a small
gh2-partitioned points table: covers prune partitions at the scan and
the distance refines run without Python."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from check_oracle import plan_facts  # noqa: E402

from geotile import engine  # noqa: E402
from geotile.kernel import tiles_np  # noqa: E402

UNBOUNDED = "unbounded BroadcastNestedLoopJoin"


@pytest.fixture(scope="module")
def ids(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "ids")
    spark.range(200).withColumn("g", F.col("id") % 7).write.parquet(path)
    return spark.read.parquet(path)


def test_crossjoin_global_aggregate_passes(ids):
    f = plan_facts(ids.crossJoin(F.broadcast(ids.agg(F.max("id").alias("m")))))
    assert f["bnlj"] == 1 and f["problems"] == []


def test_crossjoin_driver_list_passes(spark, ids):
    keys = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    f = plan_facts(ids.crossJoin(F.broadcast(keys)))
    assert f["bnlj"] == 1 and f["problems"] == []


def test_nonequi_join_grouped_parquet_aggregate_flagged(ids):
    per_g = ids.groupBy("g").agg(F.max("id").alias("m"))
    f = plan_facts(ids.join(F.broadcast(per_g), F.col("id") > F.col("m")))
    assert f["bnlj"] == 1 and f["problems"] == [UNBOUNDED]


def test_cached_build_side_is_walked(ids):
    per_g = ids.groupBy("g").agg(F.max("id").alias("m")).cache()
    try:
        f = plan_facts(ids.join(F.broadcast(per_g), F.col("id") > F.col("m")))
        assert f["problems"] == [UNBOUNDED]
        assert f["exchanges"] >= 2  # the broadcast + the cached plan's shuffle
    finally:
        per_g.unpersist()


def test_crossjoin_without_broadcast_is_cartesian(spark, ids):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        f = plan_facts(ids.crossJoin(ids.select(F.col("id").alias("id2"))))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert f["problems"] == ["CartesianProduct"]


# ---------------------------------------------------------------------------
# spatial operators on a gh2-partitioned points table
# ---------------------------------------------------------------------------

BEIJING, LONDON = (39.9286, 116.3895), (51.5074, -0.1278)


@pytest.fixture(scope="module")
def points(spark, tmp_path_factory):
    rows = [(f"u{c}-{i}", lat + (i % 10) * 0.01, lon + (i // 10) * 0.01)
            for c, (lat, lon) in enumerate((BEIJING, LONDON)) for i in range(100)]
    pts = engine.with_cell(spark.createDataFrame(rows, "url string, lat double, lon double"))
    path = str(tmp_path_factory.mktemp("plans") / "points")
    (pts.withColumn("gh2", F.substring("geohash", 1, 2))
     .write.partitionBy("gh2").parquet(path))
    return spark.read.parquet(path)


def _queries(spark):
    return spark.createDataFrame(
        [(0, *BEIJING, 50000.0), (1, *LONDON, 50000.0)],
        "query_id long, qlat double, qlon double, radius_m double")


def _operators(spark, points):
    tx, ty = tiles_np.tile_xy(*BEIJING, 10)
    polys = spark.createDataFrame(
        [(0, [39.0, 41.0, 39.0], [115.0, 116.5, 118.0])],
        "poly_id long, poly_lat array<double>, poly_lon array<double>")
    return {
        "radius_search": engine.radius_search(points, *BEIJING, 30000.0),
        "radius_search_compat": engine.radius_search_compat(
            points, 39.928167, 116.389550, 10000.0),
        "radius_join": engine.radius_join(points, _queries(spark)),
        "pip_join": engine.pip_join(points, polys),
        "raster_vector_join": engine.raster_vector_join(
            points, [(10, int(tx[0]), int(ty[0]))]),
        "with_cell": engine.with_cell(points, nchars=7, out="gh7"),
    }


@pytest.mark.parametrize("op", ["radius_search", "radius_search_compat",
                                "radius_join", "pip_join", "raster_vector_join"])
def test_cover_prunes_gh2_partitions(spark, points, op):
    df = _operators(spark, points)[op]
    f = plan_facts(df)
    assert f["pruned"] and all("gh2" in p for p in f["pruned"]), f["pruned"]
    assert f["problems"] == []
    assert df.count() > 0


@pytest.mark.parametrize("op,python", [
    ("radius_search", False), ("radius_join", False), ("raster_vector_join", False),
    ("with_cell", False),
    ("pip_join", True),  # the ray-cast refine is a numpy kernel
])
def test_refine_python_only_where_a_kernel_needs_it(spark, points, op, python):
    assert (plan_facts(_operators(spark, points)[op])["python"] > 0) == python
