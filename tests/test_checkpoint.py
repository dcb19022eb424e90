"""Checkpoint/resume: completed ranges are skipped on restart; a changed
lineage invalidates them; resumed output is bit-identical."""

import shutil

import pytest
from pyspark.sql import functions as F

from osm_processing_pipeline_spark.datagen import world
from osm_processing_pipeline_spark.operators import spatial_join
from osm_processing_pipeline_spark.plans import checkpoint as CP
from osm_processing_pipeline_spark.worldspec import NX, NY
from tests.conftest import SF_SMOKE

OUT = "/tmp/osm_ckpt_test"


def _pieces_fn(spark):
    def fn():
        r = world.roads_materialized(spark, SF_SMOKE)
        s = world.segments(spark, SF_SMOKE, r)
        g = world.grids(spark)
        return spatial_join.segment_cell_pieces(s, g) \
            .select("osm_id", "grid_id", "piece_um")
    return fn


def test_checkpoint_resume_and_invalidate(spark):
    shutil.rmtree(OUT, ignore_errors=True)
    ranges = CP.make_ranges(0, NX * NY, 8)
    lin = CP.lineage_hash("pieces", [SF_SMOKE], version="1")

    r1 = CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                      ranges, OUT, lin)
    assert len(r1["computed"]) == 8 and not r1["skipped"]
    first_pd = CP.load_stage(spark, OUT).toPandas() \
        .sort_values(["osm_id", "grid_id"]).reset_index(drop=True)
    n1 = len(first_pd)
    assert n1 == r1["rows"] > 0

    # resume: everything skipped, nothing recomputed, same data
    r2 = CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                      ranges, OUT, lin)
    assert len(r2["skipped"]) == 8 and not r2["computed"]
    assert r2["rows"] == n1

    # partial failure: wipe two ranges -> only those recompute
    shutil.rmtree(f"{OUT}/range=3")
    shutil.rmtree(f"{OUT}/range=5")
    r3 = CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                      ranges, OUT, lin)
    assert sorted(r3["computed"]) == [3, 5] and len(r3["skipped"]) == 6
    after_pd = CP.load_stage(spark, OUT).toPandas() \
        .sort_values(["osm_id", "grid_id"]).reset_index(drop=True)
    # bit-identical content after resume
    assert len(after_pd) == n1
    assert (after_pd.values == first_pd.values).all()

    # lineage change invalidates all checkpoints
    lin2 = CP.lineage_hash("pieces", [SF_SMOKE], version="2")
    r4 = CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                      ranges, OUT, lin2)
    assert len(r4["computed"]) == 8

    # manifest carries per-range metrics
    man = CP.read_manifest(OUT)
    assert all({"stage", "range_id", "output_rows", "wall_s", "lineage"}
               <= set(m) for m in man)
    shutil.rmtree(OUT, ignore_errors=True)


def test_load_stage_ignores_stale_ranges_of_shrunk_layout(spark):
    """A re-run under a new lineage with FEWER ranges must not silently read
    the old layout's leftover range=N directories back in."""
    shutil.rmtree(OUT, ignore_errors=True)
    wide = CP.make_ranges(0, NX * NY, 8)
    lin_a = CP.lineage_hash("pieces", [SF_SMOKE], version="A")
    CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                 wide, OUT, lin_a)
    total = CP.load_stage(spark, OUT, "pieces", lin_a).count()

    # new lineage, 2 ranges covering only the first half of the key space:
    # ranges 2..7 from layout A stay on disk but must NOT be read
    narrow = CP.make_ranges(0, (NX * NY) // 2, 2)
    lin_b = CP.lineage_hash("pieces", [SF_SMOKE], version="B")
    CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                 narrow, OUT, lin_b)
    got = CP.load_stage(spark, OUT, "pieces", lin_b)
    assert got.count() < total
    assert got.select(F.max("grid_id")).first()[0] < (NX * NY) // 2
    # the bare glob (legacy) would have over-read — prove the stale dirs exist
    assert CP.load_stage(spark, OUT).count() > got.count()
    shutil.rmtree(OUT, ignore_errors=True)


def test_job_resume_across_range_layouts(spark, capsys):
    """job.py --checkpointed re-run on one out-dir with 8, then 4, then 16
    ranges: each run must report, and load back, exactly the rows of the
    stage, never a mix of two layouts' range=N directories."""
    from osm_processing_pipeline_spark import job

    shutil.rmtree(OUT, ignore_errors=True)
    want = _pieces_fn(spark)().count()
    for n in (8, 4, 16):
        assert job.main(["--checkpointed", "--sf-dir", SF_SMOKE,
                         "--out-dir", OUT, "--ranges", str(n)]) == 0
        assert f" rows={want}" in capsys.readouterr().err, n
        lin = CP.read_manifest(OUT)[-1]["lineage"]  # the run's own lineage
        assert CP.load_stage(spark, OUT, "pieces", lin).count() == want, n
    shutil.rmtree(OUT, ignore_errors=True)


def test_run_stage_refuses_layout_change_under_one_lineage(spark, tmp_path):
    """Same stage and lineage, other range bounds: resuming would mix two
    layouts, so run_stage raises before writing anything."""
    out = str(tmp_path / "ckpt")
    keys = lambda: spark.range(100).withColumnRenamed("id", "k")  # noqa: E731
    lin = CP.lineage_hash("keys", ["t"])
    CP.run_stage(spark, "keys", keys, "k", CP.make_ranges(0, 100, 8), out, lin)
    for n in (4, 16):
        with pytest.raises(ValueError, match="range layout"):
            CP.run_stage(spark, "keys", keys, "k", CP.make_ranges(0, 100, n),
                         out, lin)
    assert len(CP.read_manifest(out)) == 8
    # with the layout in the lineage the new layout computes cleanly
    lin4 = CP.lineage_hash("keys", ["t", "4"])
    r = CP.run_stage(spark, "keys", keys, "k", CP.make_ranges(0, 100, 4),
                     out, lin4)
    assert r["computed"] == [0, 1, 2, 3] and r["rows"] == 100
    assert CP.load_stage(spark, out, "keys", lin4).count() == 100
