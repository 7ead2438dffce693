"""Traffic monitoring over a sensor-reading stream, batch-replayed:
sliding-window argmax per station (TrafficMaxLaneFlow) and per-route
slowdown detection (TrafficRoutes) — the two scio complete examples
(scio-examples/src/main/scala/com/spotify/scio/examples/complete/
TrafficMaxLaneFlow.scala, TrafficRoutes.scala) re-expressed Spark-first.

Both stages are also oracle-checked contract queries
(traffic_max_lane_flow / traffic_routes in scio_spark/contract/windows.py); this
example shows them composed as a user would: shared sliding-window
assignment, two aggregations, a joined report.
Run: python examples/traffic_monitor.py [sf_dir] [out_dir]
"""

import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, ".")

from scio_spark import ScioContext  # noqa: E402
from scio_spark.operators import windows as W  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/traffic_monitor"
    ctx = ScioContext()
    ctx.spark.sparkContext.setLogLevel("ERROR")

    # events as sensor readings: station = user_id, route = event_type,
    # flow/speed = value
    ev = ctx.parquet_file(f"{sf_dir}/events.parquet").df

    # ONE sliding-window assignment (1h size / 30m slide) shared by both
    # stages — each reading lands in exactly two windows
    slid = W.with_sliding_windows(ev, "ts", "1 hour", "30 minutes")

    # 1. TrafficMaxLaneFlow: the single max-flow reading per (window,
    # route) via struct argmax — partial-aggregable, one exchange, no
    # ROW_NUMBER sort
    max_flow = (
        slid.groupBy("window_start", F.col("event_type").alias("route"))
        .agg(
            F.max(F.struct(F.col("value"), F.col("event_id"))).alias("__b"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .select(
            "window_start",
            "route",
            F.col("__b.value").alias("max_flow"),
            F.col("__b.event_id").alias("max_event_id"),
            "n_readings",
        )
    )

    # 2. TrafficRoutes: slowdown = any station (user) on the route with
    # consecutive decreasing readings inside the window; LAG runs per
    # (window, route, station) — the grouping Beam's GBK induces
    pair = Window.partitionBy("window_start", "event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    routes = (
        slid.withColumn("__slow", F.col("value") < F.lag("value").over(pair))
        .groupBy("window_start", F.col("event_type").alias("route"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_speed"),
            F.coalesce(F.bool_or("__slow"), F.lit(False)).alias("slowdown"),
        )
    )

    # 3. joined per-(window, route) report, written time-partitioned so a
    # dashboard reads one window directory
    report = max_flow.join(routes, ["window_start", "route"])
    report.repartition("window_start").write.mode("overwrite").partitionBy(
        "window_start"
    ).parquet(f"{out}/report")

    n = report.count()
    slow = report.filter("slowdown").count()
    print(f"windows x routes: {n}; slowdown panes: {slow}")
    top = report.orderBy(F.desc("max_flow")).limit(3).collect()
    for r in top:
        print(
            f"  {r.window_start} route={r.route} max_flow={r.max_flow} "
            f"(event {r.max_event_id}, {r.n_readings} readings, "
            f"avg {r.avg_speed:.2f}, slowdown={r.slowdown})"
        )
    assert n > 0 and top[0].max_flow is not None
    ctx.spark.stop()


if __name__ == "__main__":
    main()
