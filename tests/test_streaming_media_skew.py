"""Streaming twin, multimodal plumbing, and salting equivalence tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_processing_pipeline_spark.datagen import world
from osm_processing_pipeline_spark.multimodal import media as M
from osm_processing_pipeline_spark.operators import skew, spatial_join
from osm_processing_pipeline_spark.sources import documents as D
from osm_processing_pipeline_spark.streaming import jobs as SJ
from tests.conftest import SF_SMOKE


def test_streaming_matches_batch(spark, tmp_path):
    # FileStreamSource requires a directory of files
    import shutil
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-0.parquet")
    streamed = SJ.run_events_stream_available_now(
        spark, str(d), "t_stream_agg").toPandas()
    batch = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy(F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias("hour_bucket"),
                 "event_type")
        .agg(F.count("*").cast("long").alias("n_events"),
             F.sum(F.floor(F.col("value") * F.lit(1000.0)).cast("long"))
              .cast("long").alias("sum_value_milli"))
    ).toPandas()
    key = ["hour_bucket", "event_type"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b) > 0
    assert (s[["n_events", "sum_value_milli"]].values
            == b[["n_events", "sum_value_milli"]].values).all()


def test_media_pipeline_plumbing(spark):
    roads = world.roads_materialized(spark, SF_SMOKE)
    docs = D.parse_road_documents(D.encode_road_documents(roads))
    with_media = docs.filter(F.col("has_image"))
    media = M.media_table(with_media)
    feats = M.image_features(media).toPandas()
    assert len(feats) == with_media.count() > 0
    assert (feats.width.values >= 8).all() and (feats.width.values <= 16).all()
    # determinism: same media_ref -> same checksum
    f2 = M.image_features(media).toPandas()
    a = feats.sort_values("media_ref").reset_index(drop=True)
    b = f2.sort_values("media_ref").reset_index(drop=True)
    assert (a.px_checksum.values == b.px_checksum.values).all()

    resized = M.resize_images(media, 4, 4).toPandas()
    w = np.frombuffer(resized.payload.iloc[0][:4], "<i4")[0]
    h = np.frombuffer(resized.payload.iloc[0][4:8], "<i4")[0]
    assert (w, h) == (4, 4)
    assert len(resized.payload.iloc[0]) == 8 + 16


def test_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        M._decode_real(b"\x00")


def test_salted_distinct_count_equals_naive(spark):
    r = world.roads_materialized(spark, SF_SMOKE)
    s = world.segments(spark, SF_SMOKE, r)
    g = world.grids(spark)
    pieces = spatial_join.segment_cell_pieces(s, g).select("grid_id", "osm_id")
    naive = pieces.groupBy("grid_id").agg(
        F.countDistinct("osm_id").cast("long").alias("n_distinct")).toPandas()
    salted = skew.salted_distinct_count(pieces, "grid_id", "osm_id").toPandas()
    a = naive.sort_values("grid_id").reset_index(drop=True)
    b = salted.sort_values("grid_id").reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert (a.n_distinct.values == b.n_distinct.values).all()


def test_salted_join_equals_naive(spark):
    import pyspark.sql.functions as F

    from osm_processing_pipeline_spark.datagen import world
    from osm_processing_pipeline_spark.functions import cells
    from tests.conftest import SF_SMOKE
    r = world.roads_materialized(spark, SF_SMOKE)
    s = world.segments(spark, SF_SMOKE, r)
    g = world.grids(spark)
    cand = s.withColumn(
        "grid_id",
        F.explode(cells.segment_cover(s.ax, s.ay, s.bx, s.by)))
    naive = cand.join(g, "grid_id").groupBy("grid_id").count().toPandas()
    salted = skew.salted_join(cand, g, "grid_id", salt_src="osm_id") \
        .groupBy("grid_id").count().toPandas()
    a = naive.sort_values("grid_id").reset_index(drop=True)
    b = salted.sort_values("grid_id").reset_index(drop=True)
    assert a.equals(b)


def test_hot_cells_flags_urban_core(spark):
    from osm_processing_pipeline_spark.datagen import world
    from osm_processing_pipeline_spark import worldspec as W
    from tests.conftest import SF_SMOKE
    from osm_processing_pipeline_spark.functions import cells
    import pyspark.sql.functions as F
    r = world.roads_materialized(spark, SF_SMOKE)
    pts = r.select(F.explode("vertices").alias("v")).select(
        cells.cell_of_point(F.col("v.lon"), F.col("v.lat")).alias("cell"))
    n = pts.count()
    hot = set(skew.hot_cells(pts, "cell", threshold_rows=n // (W.NX * W.NY) * 20))
    assert hot, "urban core must trip the density threshold"
    # the urban-core cells must be flagged (world-edge cells may also be hot:
    # coordinate clamping piles boundary vertices there — equally real skew)
    ulo = int(W.URBAN_LO / W.CELL_DEG)
    uhi = int(W.URBAN_HI / W.CELL_DEG)
    core = {j * W.NX + i for i in range(ulo, uhi) for j in range(ulo, uhi)}
    assert len(core & hot) >= len(core) * 3 // 4, \
        f"only {len(core & hot)}/{len(core)} urban-core cells flagged hot"


def test_stateful_streaming_first_seen_matches_batch(spark, tmp_path):
    """Streaming first-seen aggregate: multi-batch streaming state == batch twin."""
    import shutil

    from osm_processing_pipeline_spark.streaming import stateful
    d = tmp_path / "events_stateful"
    d.mkdir()
    # split into 3 files -> 3 micro-batches, so state genuinely merges
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1) \
            .write.mode("overwrite").parquet(str(d / f"chunk{i}"))
    import glob
    files = sorted(glob.glob(str(d / "chunk*" / "*.parquet")))
    for i, f in enumerate(files):
        shutil.copy(f, d / f"part-{i}.parquet")
    for i in range(3):
        shutil.rmtree(d / f"chunk{i}")
    streamed = stateful.run_first_seen_available_now(spark, str(d)).toPandas()
    batch = stateful.batch_first_seen(ev).toPandas()
    s = streamed.sort_values("user_id").reset_index(drop=True)
    b = batch.sort_values("user_id").reset_index(drop=True)
    assert len(s) == len(b)
    assert (s["user_id"].values == b["user_id"].values).all()
    assert (s["first_ts"].values == b["first_ts"].values).all()
    assert (s["first_event"].values == b["first_event"].values).all()


def _tiny_first_seen_stream(d) -> str:
    """Three one-file micro-batches in which later batches carry earlier
    (ts, event_type) minima for keys seen in the first batch."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = 1_704_067_200_000_000  # 2024-01-01 UTC, in microseconds
    hour = 3_600_000_000
    batches = [
        # (user_id, ts, event_type)
        [(1, t0 + 10 * hour, "view"), (2, t0 + 8 * hour, "view"),
         (3, t0 + 8 * hour, "click")],
        [(1, t0 + 9 * hour, "purchase"), (2, t0 + 8 * hour, "click"),
         (3, t0 + 9 * hour, "error")],
        [(1, t0 + 9 * hour, "click"), (3, t0 + 8 * hour, "view"),
         (4, t0 + 12 * hour, "signup")],
    ]
    d.mkdir()
    for b, rows in enumerate(batches):
        f = str(d / f"part-{b}.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array([10 * b + i for i in range(len(rows))], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }), f)
        os.utime(f, (1_000_000 + b, 1_000_000 + b))  # file order = batch order
    return str(d)


def test_first_seen_state_merges_across_batches(spark, tmp_path):
    """A later micro-batch lowers a key's first-seen ts (user 1), a ts tie
    across batches is broken by event_type (users 1, 2, 3), and a key can
    first appear in the last batch (user 4); streaming == batch twin."""
    from osm_processing_pipeline_spark.streaming import stateful
    d = _tiny_first_seen_stream(tmp_path / "events_tiny")

    def rows(df):
        return sorted(df.select("user_id", F.unix_micros("first_ts"), "first_event")
                      .collect())

    streamed = rows(stateful.run_first_seen_available_now(spark, d, "t_tiny_first_seen"))
    batch = rows(stateful.batch_first_seen(spark.read.parquet(d)))
    t0, hour = 1_704_067_200_000_000, 3_600_000_000
    assert streamed == batch
    assert [tuple(r) for r in streamed] == [
        (1, t0 + 9 * hour, "click"), (2, t0 + 8 * hour, "click"),
        (3, t0 + 8 * hour, "click"), (4, t0 + 12 * hour, "signup")]


def test_first_seen_state_is_jvm_aggregate(spark, tmp_path, capsys):
    """Plan-shape guard: first-seen state lives in Spark's streaming hash
    aggregate (stateStoreSave), not in a Python per-key-group operator."""
    from osm_processing_pipeline_spark.streaming import stateful
    d = _tiny_first_seen_stream(tmp_path / "events_tiny")
    stream = (spark.readStream.schema(SJ.EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    # update mode works for any stateful operator, so a Python state op
    # fails the assertions below instead of failing to start
    q = (stateful.streaming_first_seen(stream).writeStream.format("memory")
         .queryName("t_first_seen_plan").outputMode("update")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        capsys.readouterr()
        q.explain(extended=True)
        plan = capsys.readouterr().out
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ops = [op["operatorName"] for op in q.lastProgress["stateOperators"]]
    finally:
        spark.catalog.dropTempView("t_first_seen_plan")
    assert len(batches) == 3
    assert ops == ["stateStoreSave"]
    assert "StateStoreSave" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


def test_streaming_queries_release_memory_sinks(spark):
    """Repeated q50/q54 calls leave no memory-sink temp views in the session,
    and each returned frame stays readable after its view is dropped."""
    from osm_processing_pipeline_spark import registry
    for name in ("q50_streaming_first_seen", "q54_streaming_late_windows"):
        first, second = (registry.QUERIES[name](spark, SF_SMOKE) for _ in range(2))
        assert first.count() == second.count() > 0
    leaked = [t.name for t in spark.catalog.listTables()
              if t.name.startswith(("q50_sink", "q54_sink"))]
    assert leaked == []


def test_late_window_stream_drops_and_withholds(spark, tmp_path):
    """Append-mode watermarking must (a) drop two-batch stragglers, (b)
    withhold windows the final watermark never closed, and (c) emit every
    window exactly once."""
    stage = SJ.stage_late_batches(spark, SF_SMOKE, str(tmp_path / "late_stage"))
    out = SJ.run_sliding_late_available_now(spark, stage, "t_late").toPandas()
    total_row_windows = 2 * spark.read.parquet(
        f"{SF_SMOKE}/events.parquet").count()
    emitted = int(out.n_events.sum())
    assert emitted < total_row_windows          # something was late/withheld
    assert emitted > 0.9 * total_row_windows    # but the stream is not lossy
    # exactly-once emission per window key
    assert not out.duplicated(["win_start_s", "event_type"]).any()
    # no window still open at end-of-stream may appear: every emitted window
    # end precedes the final watermark (global max event time - 45 min)
    max_ts_us = spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
        .agg(F.max("ts")).toPandas().iloc[0, 0].value // 1000
    fin_wm_ms = max_ts_us // 1000 - SJ.LATE_DELAY_MS
    assert ((out.win_start_s + SJ.LATE_WIN_S) * 1000 <= fin_wm_ms).all()
