"""End-to-end pipeline + resume semantics (SURVEY.md §7.1 M7)."""

import json
import os

import pytest

from fixtures import gen_pages
from imc import manifest, pipeline
from imc.config import IMCParams

PARAMS = IMCParams(eps=1.2, min_lns=3)


@pytest.mark.usefixtures("spark")
def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    path = gen_pages.ensure_pages(sf=0.001)
    pages = spark.read.parquet(path)
    out = str(tmp_path / "run1")

    results = pipeline.run(spark, pages, out, PARAMS)
    expected = {"points", "segments", "eps_pairs", "assignments",
                "rep_points", "corridors", "raster", "polygons",
                "tile_assignments"}
    assert set(results) == expected
    for name, (p, snap) in results.items():
        m = manifest.read_manifest(p)
        assert m["snapshot_id"] == snap
        assert m["committed"]
        assert m["row_count"] > 0, name
        assert sum(f["rows"] for f in m["files"]) == m["row_count"]

    # resume: second run with identical inputs+params must skip (manifests
    # unchanged on disk — compare mtimes)
    mtimes = {n: os.path.getmtime(os.path.join(p, manifest.MANIFEST_NAME))
              for n, (p, _) in results.items()}
    results2 = pipeline.run(spark, pages, out, PARAMS)
    for n, (p, snap) in results2.items():
        assert results[n][1] == snap
        assert os.path.getmtime(os.path.join(p, manifest.MANIFEST_NAME)) == mtimes[n], n

    # param change → new snapshot ids → stages recompute
    p2 = IMCParams(eps=1.2, min_lns=4)
    results3 = pipeline.run(spark, pages, out, p2)
    assert results3["eps_pairs"][1] != results["eps_pairs"][1]

    # corrupted manifest → stage recomputes
    mp = os.path.join(results["points"][0], manifest.MANIFEST_NAME)
    with open(mp, "w") as f:
        json.dump({"snapshot_id": "bogus"}, f)
    results4 = pipeline.run(spark, pages, out, PARAMS)
    assert results4["points"][1] == results["points"][1]
    assert manifest.read_manifest(results["points"][0])["snapshot_id"] == results["points"][1]

    # DIFFERENT input, same output dir → root fingerprint differs → every
    # stage recomputes instead of returning stale outputs (ADVICE r01)
    hot_pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001, hot=True))
    results5 = pipeline.run(spark, hot_pages, out, PARAMS)
    assert results5["points"][1] != results["points"][1]
    assert results5["eps_pairs"][1] != results["eps_pairs"][1]


@pytest.mark.usefixtures("spark")
def test_pipeline_dispatches_cogrouped_pip_above_limit(spark, tmp_path,
                                                       monkeypatch):
    """VERDICT r03 #2 (wiring half): above TILE_BROADCAST_LIMIT the
    pipeline must provably take the venue-cogrouped PIP — and its
    tile_assignments output must equal the broadcast path's."""
    from imc import joins
    path = gen_pages.ensure_pages(sf=0.01)
    pages = spark.read.parquet(path)

    called = {"n": 0}
    real = joins.tile_assignments_cogrouped

    def _spy(*a, **k):
        called["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(joins, "tile_assignments_cogrouped", _spy)
    monkeypatch.setattr(pipeline, "TILE_BROADCAST_LIMIT", 3)
    out_cg = pipeline.run(spark, pages, str(tmp_path / "cg"), PARAMS)
    assert called["n"] == 1

    monkeypatch.setattr(pipeline, "TILE_BROADCAST_LIMIT", 20_000)
    out_bc = pipeline.run(spark, pages, str(tmp_path / "bc"), PARAMS)
    assert called["n"] == 1  # broadcast path this time

    got = _read_tile(spark, out_cg["tile_assignments"][0])
    want = _read_tile(spark, out_bc["tile_assignments"][0])
    assert got.equals(want) and len(got) > 0


def _read_tile(spark, path):
    df = spark.read.parquet(path).toPandas()
    return df.sort_values("seg_id").reset_index(drop=True)


@pytest.mark.usefixtures("spark")
def test_input_fingerprint_stable_across_processes(spark):
    """r4 regression: df.semanticHash() is only stable within one JVM, so
    a fingerprint built on it silently defeated resume for every NEW
    spark-submit process (each run recomputed all stages). The fingerprint
    must be reproducible by a fresh interpreter + fresh SparkSession."""
    import subprocess
    import sys
    path = gen_pages.ensure_pages(sf=0.001)
    here = pipeline._input_fingerprint(spark.read.parquet(path))
    script = (
        "from pyspark.sql import SparkSession\n"
        "import imc.pipeline as P\n"
        "s = (SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled','false').getOrCreate())\n"
        f"print('FP=' + P._input_fingerprint(s.read.parquet({path!r})))\n")
    out = subprocess.run([sys.executable, "-c", script], check=True,
                         capture_output=True, text=True,
                         cwd=os.path.dirname(os.path.dirname(
                             os.path.abspath(__file__)))).stdout
    other = [ln for ln in out.splitlines() if ln.startswith("FP=")][0][3:]
    assert other == here


@pytest.mark.usefixtures("spark")
def test_partitioned_stages_prune(spark, tmp_path):
    """points/segments/raster/polygons are hive-partitioned by venue; a
    venue predicate must reach the scan as a PartitionFilter (SURVEY.md
    §4.2), so bbox/venue queries prune instead of scanning the world."""
    path = gen_pages.ensure_pages(sf=0.001)
    pages = spark.read.parquet(path)
    out = str(tmp_path / "runp")
    results = pipeline.run(spark, pages, out, PARAMS)
    for name in ("points", "segments", "raster", "polygons"):
        assert os.path.isdir(os.path.join(results[name][0], "venue=0")), name
    seg = spark.read.parquet(results["segments"][0]).filter("venue = 0")
    plan = seg._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("PartitionFilters"):]
    assert "venue" in scan[:200]
    # in-memory input → unique fingerprint → resume never skips
    mem = spark.createDataFrame(pages.limit(20).toPandas())
    ra = pipeline.run(spark, mem, str(tmp_path / "runm"), PARAMS)
    rb = pipeline.run(spark, mem, str(tmp_path / "runm"), PARAMS)
    assert ra["points"][1] != rb["points"][1]


def _assert_manifests_exact(spark, results):
    """Every stage's footer-derived row_count and per-file rows equal a
    real count of the table; the files are the table's data files (the
    segments `_venue_stats` side table is not counted)."""
    for name, (p, _) in results.items():
        m = manifest.read_manifest(p)
        n = spark.read.parquet(p).count()
        assert m["row_count"] == n, name
        assert sum(f["rows"] for f in m["files"]) == n, name
        for f in m["files"]:
            assert os.path.isfile(os.path.join(p, f["file"])), (name, f)
            assert not f["file"].startswith("_"), (name, f)
            if m["partition_by"]:
                assert f["file"].startswith("venue="), (name, f)
        assert m["schema"] == spark.read.parquet(p).schema.jsonValue(), name
    seg = results["segments"][0]
    assert os.path.isdir(os.path.join(seg, manifest.VENUE_STATS_DIR))


@pytest.mark.usefixtures("spark")
def test_manifest_counts_exact_after_run_and_incremental(spark, tmp_path):
    """Manifest commits take row counts from parquet footers instead of
    recounting: they must stay exact for every stage, venue-partitioned
    or not, after a full run and after an incremental fold (dynamic
    partition overwrite leaves old and new files side by side)."""
    from pyspark.sql import functions as F

    from imc.extract import dedupe_pages
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))
    slot = F.regexp_extract("url", r"walk(\d+)$", 1).cast("int")
    new_batch = dedupe_pages(pages).filter(slot >= 40)
    old_batch = pages.join(new_batch.select("url", "warc_ts"),
                           ["url", "warc_ts"], "left_anti")
    out = str(tmp_path / "exact")
    results = pipeline.run(spark, old_batch, out, PARAMS)
    _assert_manifests_exact(spark, results)
    folded = pipeline.run_incremental(spark, new_batch, out, PARAMS)
    assert set(folded) == set(results)
    assert any(folded[n][1] != results[n][1] for n in results)
    _assert_manifests_exact(spark, folded)


@pytest.mark.usefixtures("spark")
def test_manifest_file_rows_fallback_counts_when_pyarrow_cannot_open(
        spark, tmp_path, monkeypatch):
    """A store whose URI scheme pyarrow cannot open (e.g. s3a://) falls
    back to one counting job grouped by input file: same files, same
    rows as the footer path."""
    from types import SimpleNamespace

    import pyarrow as pa

    df = spark.range(1000).selectExpr("id", "id % 3 AS venue")
    path = str(tmp_path / "t")
    manifest.write_stage(df, path, "t", [], "p", partition_by=["venue"])
    footer = manifest.read_manifest(path)

    def _refuse(uri):
        raise pa.ArrowInvalid(f"Unrecognized filesystem type in URI: {uri}")

    monkeypatch.setattr(manifest, "pafs", SimpleNamespace(
        FileSystem=SimpleNamespace(from_uri=_refuse)))
    snap, table = manifest.refresh_manifest(spark, path, "t", [], "p",
                                            partition_by=["venue"])
    counted = manifest.read_manifest(path)
    assert snap == footer["snapshot_id"] and table.count() == 1000
    assert counted["files"] == footer["files"]
    assert counted["row_count"] == footer["row_count"] == 1000
    assert {f["file"].split("/")[0] for f in counted["files"]} == {
        "venue=0", "venue=1", "venue=2"}
