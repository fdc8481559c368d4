"""Fixed cost of a layer call: Spark jobs, Python worker set-up, and how
often each geometry kernel runs.

At test sizes a layer call costs jobs, stages and Python-worker round
trips, not row work. These tests lock the counts: a warm
``get_buildings`` runs no relation probe job, a warm buildings layer
plus a PIP digest stays within its job budget and its count of
``ArrowEvalPython`` nodes, and a Python worker does not re-read an
unchanged zip archive at every task. Relation assembly over tables too
big to trust static sizes runs one probe and still streams the node
table without a shuffle.
"""

import os
import sys
import uuid
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

import pyrosm_spark
from pyrosm_spark import OSM
from pyrosm_spark.operators.relations import assemble_relations
from pyrosm_spark.operators.spatial_join import (
    point_in_polygon_join,
    release_pinned_caches,
)

# A warm get_buildings() plus the PIP digest of perfbench's osm_layers
# op ran 29 jobs before relation probes were dropped; 22 after.
PIP_PASS_MAX_JOBS = 22
# Final-plan ArrowEvalPython nodes of that PIP join, and geometry
# kernel calls inside them. Catalyst inlines a kernel into each UDF
# chain that reads its column, so one row can run a kernel in several
# nodes; the calls were 13 while the cover's bbox was a second UDF
# (``wkb_bbox``) over the kernel's output.
PIP_PASS_MAX_ARROW_NODES = 5
PIP_PASS_MAX_KERNEL_CALLS = 9
KERNELS = ("_way_wkb_from_arrays", "relation_geometry_wkb",
           "wkb_segment_sets", "wkb_bbox")


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    gid = f"cost-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(gid))


def _stage_names(spark, job_ids):
    st = spark.sparkContext.statusTracker()
    names = []
    for jid in job_ids:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            stage = st.getStageInfo(sid)
            if stage is not None:
                names.append(stage.name)
    return names


def _final_plan_lines(plan: str) -> list:
    """The plan's lines without its adaptive ``Initial Plan`` subtrees
    (each cached or adaptive subplan prints both its final and its
    initial form)."""
    out, skip_indent = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :|+-"))
        if skip_indent is not None:
            if indent >= skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        out.append(line)
    return out


def _pip_digest(osm, sample):
    polygons = osm.get_buildings().select("id", "osm_type", "geometry")
    j = point_in_polygon_join(sample, polygons, res=17)
    row = j.agg(
        F.count(F.lit(1)),
        F.sum(F.pmod(F.xxhash64("image_id", "poly_id", "poly_osm_type"),
                     F.lit(2147483647))),
    ).first()
    return j, tuple(row)


@pytest.fixture(scope="module")
def warm(spark, synth_dir):
    osm = OSM(spark, synth_dir)
    sample = spark.read.parquet(
        os.path.join(synth_dir, "images.parquet")).select(
        "image_id", "lon", "lat").persist()
    sample.count()
    try:
        _pip_digest(osm, sample)  # cold pass: JVM and workers warm up
    finally:
        release_pinned_caches()
    yield osm, sample
    sample.unpersist()


@pytest.fixture(scope="module")
def tables_for_cost(spark, synth_dir):
    from pyrosm_spark.operators.osm_source import load_osm

    return load_osm(spark, synth_dir)


# --------------------------------------------------------------------------
# zipimporter swap
# --------------------------------------------------------------------------

def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 re-reads zip archives lazily itself")
def test_lazy_zip_invalidate_rereads_only_a_changed_archive(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"alpha.py": "A = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real_read(p))
    monkeypatch.setattr(pyrosm_spark, "_zip_stamps", {})

    pyrosm_spark._lazy_zip_invalidate(importer)  # first sight: stamped
    assert len(reads) == 1
    pyrosm_spark._lazy_zip_invalidate(importer)
    pyrosm_spark._lazy_zip_invalidate(zipimport.zipimporter(archive))
    assert len(reads) == 1, "an unchanged archive was re-read"
    assert importer.find_spec("beta") is None

    mtime = os.stat(archive).st_mtime_ns
    _write_zip(archive, {"alpha.py": "A = 1\n", "beta.py": "B = 2\n"})
    os.utime(archive, ns=(mtime + 10**9, mtime + 10**9))
    pyrosm_spark._lazy_zip_invalidate(importer)
    assert len(reads) == 2, "a rewritten archive was not re-read"
    assert importer.find_spec("beta") is not None


def test_zip_swap_is_installed_in_workers_only(spark):
    assert zipimport.zipimporter.invalidate_caches \
        is not pyrosm_spark._lazy_zip_invalidate

    def swapped(_):
        import zipimport as zi

        import pyrosm_spark as pkg

        return zi.zipimporter.invalidate_caches is pkg._lazy_zip_invalidate

    got = spark.sparkContext.parallelize([0], 1).map(swapped).collect()
    assert got == [sys.version_info < (3, 13)]


# --------------------------------------------------------------------------
# jobs per call
# --------------------------------------------------------------------------

def test_assemble_relations_plan_runs_no_job(spark, tables_for_cost):
    nodes, ways, rels = tables_for_cost
    _, jobs = _jobs_of(spark, lambda: assemble_relations(rels, ways, nodes))
    assert jobs == []


def test_warm_get_buildings_runs_no_relation_probe_jobs(spark, warm):
    osm, _ = warm
    _, jobs = _jobs_of(spark, osm.get_buildings)
    names = _stage_names(spark, jobs)
    assert not [n for n in names if "relations.py" in n], names


def test_warm_buildings_pip_pass_job_budget(spark, warm):
    osm, sample = warm
    try:
        (_, row), jobs = _jobs_of(spark, lambda: _pip_digest(osm, sample))
    finally:
        release_pinned_caches()
    assert row[0] > 0
    assert len(jobs) <= PIP_PASS_MAX_JOBS, len(jobs)


def test_warm_buildings_pip_pass_python_nodes(spark, warm):
    osm, sample = warm
    try:
        j, _ = _pip_digest(osm, sample)
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        release_pinned_caches()
    udf_lists = [ln.split("ArrowEvalPython [", 1)[1].split("], [", 1)[0]
                 for ln in _final_plan_lines(plan) if "ArrowEvalPython" in ln]
    calls = {k: sum(u.count(f"{k}(") for u in udf_lists) for k in KERNELS}
    assert calls["wkb_bbox"] == 0, udf_lists
    assert len(udf_lists) <= PIP_PASS_MAX_ARROW_NODES, udf_lists
    assert sum(calls.values()) <= PIP_PASS_MAX_KERNEL_CALLS, calls


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :|+-"))


def _path_to_join(plan: str, scan_substr: str) -> list:
    """Operators from the scan whose line holds ``scan_substr`` up to and
    including its nearest join ancestor, bottom-up."""
    lines = plan.splitlines()
    i = next(k for k, ln in enumerate(lines) if scan_substr in ln)
    path, depth = [lines[i].lstrip(" :|+-")], _depth(lines[i])
    for ln in reversed(lines[:i]):
        if _depth(ln) < depth:
            depth = _depth(ln)
            path.append(ln.lstrip(" :|+-"))
            if "Join" in ln:
                break
    return path


def test_assemble_relations_over_threshold_streams_node_table(
        spark, tables_for_cost):
    """Tables estimated over the broadcast threshold (a planet's): a
    count probe finds the member set small, and the node table is
    stream-scanned into a broadcast join with no exchange under it."""
    nodes, ways, rels = tables_for_cost
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        rel, jobs = _jobs_of(
            spark, lambda: assemble_relations(rels, ways, nodes))
        plan = rel._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert jobs, "no count probe ran"  # one action; AQE splits its stages
    path = _path_to_join(plan, "osm_nodes")
    join = path[-1].lstrip("*(0123456789) ")
    assert join.startswith("BroadcastHashJoin"), path
    assert not [op for op in path if "Exchange" in op], path
