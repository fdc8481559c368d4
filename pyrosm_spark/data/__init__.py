"""Dataset catalog: the offline subset of the reference's data API.

The reference ships ``pyrosm.data`` (``data/__init__.py:307`` get_data,
``:137`` available, ``:1-60`` bundled package files) — a name->path
resolver over (a) PBF files bundled with the package and (b) remote
Geofabrik/BBBike catalogs it downloads on demand. This engine's
environment rules out external data entirely (task constraint), so this
module reproduces the RESOLVER semantics over locally generated,
deterministic datasets only:

* ``available`` — dict of source groups -> dataset names;
* ``get_data(name)`` / ``get_path(name)`` — resolve a dataset name to a
  local filesystem path, materializing the deterministic synthetic
  dataset on first use (the offline analogue of the reference's
  download-on-demand);
* unknown names raise the reference's error shape
  (``Could not retrieve url for '<name>'.``); remote-catalog names are
  recognized and produce a targeted "out of scope: no external data"
  message instead of a silent miss.

Remote region catalogs (the 1267-line Geofabrik index) are data the
reference ships, not behavior; reproducing the name list without the
downloads it exists for would be dead weight, so it stays out of scope
(SURVEY §2 S12).
"""

from __future__ import annotations

import os

__all__ = ["available", "get_data", "get_path", "list_downloads",
           "clear_downloads"]

def _default_synth_dir() -> str:
    """Writable materialization dir. ``PYROSM_SPARK_DATA_DIR`` wins;
    otherwise ``<repo>/data/synth`` when the package runs from a
    SOURCE CHECKOUT — identified by a repo marker (``.git`` /
    ``perfbench`` next to the package), not by ``os.path.isdir`` alone:
    for a pip-installed package three dirnames above ``__file__`` is
    ``site-packages`` (a real, sometimes root-owned directory), and
    for ``spark-submit --py-files pyrosm_spark.zip`` it is inside the
    archive. Both of those fall through to a per-user temp dir."""
    env = os.environ.get("PYROSM_SPARK_DATA_DIR")
    if env:
        return os.path.join(env, "synth")
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    if any(os.path.exists(os.path.join(repo, m))
           for m in (".git", "perfbench")):
        return os.path.join(repo, "data", "synth")
    import getpass
    import tempfile

    return os.path.join(tempfile.gettempdir(),
                        f"pyrosm_spark_data_{getpass.getuser()}", "synth")


_SYNTH_DIR = _default_synth_dir()

# a few well-known reference catalog names, recognized for a targeted
# error message (reference data/__init__.py:137-150 'available' groups)
_REMOTE_HINTS = {
    "helsinki_region_pbf", "helsinki_history_pbf", "finland", "europe",
    "africa", "asia", "north_america", "south_america", "antarctica",
    "australia_oceania", "central_america",
}


def _ensure_synth_world() -> str:
    from pyrosm_spark.synth import ensure_osm_tables

    ensure_osm_tables(_SYNTH_DIR, grid=16, seed=42)
    return _SYNTH_DIR


def _ensure_synth_pbf() -> str:
    """The synthetic world as a byte-level .osm.pbf (written once by
    the from-scratch codec in sources/pbf.py)."""
    path = os.path.join(_ensure_synth_world(), "world.osm.pbf")
    if not os.path.exists(path):
        from pyrosm_spark.operators.osm_source import load_osm
        from pyrosm_spark.session import get_spark
        from pyrosm_spark.sources.pbf import write_pbf

        spark = get_spark("pyrosm_spark_data")
        n, w, r = load_osm(spark, _SYNTH_DIR, visible_only=False)
        write_pbf(n, w, r, path)
    return path


_BUNDLED = {
    # name -> (description, materializer)
    "test_pbf": ("deterministic synthetic world as .osm.pbf "
                 "(the reference's bundled test.osm.pbf analogue)",
                 _ensure_synth_pbf),
    "synth_pbf": ("alias of test_pbf", _ensure_synth_pbf),
    "test_world": ("deterministic synthetic world as parquet element "
                   "tables (the engine's preferred columnar input)",
                   _ensure_synth_world),
    "synth_world": ("alias of test_world", _ensure_synth_world),
}

available = {"bundled": sorted(_BUNDLED)}


def get_data(dataset: str, update: bool = False,
             directory: str | None = None) -> str:
    """Path to a dataset by name (reference ``get_data``,
    data/__init__.py:307-380). ``update`` forces re-materialization;
    ``directory`` is accepted for signature parity but bundled
    datasets live in the repo's data dir."""
    name = dataset.strip().lower().replace(" ", "")
    if name in _BUNDLED:
        _desc, fn = _BUNDLED[name]
        if update:
            # force re-materialization of EVERY artifact the
            # materializer skips-if-present: the pbf container AND the
            # parquet element tables it derives from (ensure_osm_tables
            # regenerates when any table file is missing)
            import shutil

            pbf = os.path.join(_SYNTH_DIR, "world.osm.pbf")
            if os.path.exists(pbf):
                os.remove(pbf)
            for t in ("osm_nodes", "osm_ways", "osm_relations",
                      "osm_nodes_history"):
                p = os.path.join(_SYNTH_DIR, f"{t}.parquet")
                if os.path.isdir(p):
                    shutil.rmtree(p)
                elif os.path.exists(p):
                    os.remove(p)
        return fn()
    if name in _REMOTE_HINTS or "/" in name:
        raise ValueError(
            f"'{dataset}' is a remote-catalog dataset; network retrieval "
            "is out of scope in this engine (no external data). Pass a "
            "local .osm.pbf path or a parquet table directory to "
            "OSM(...) instead, or use one of: "
            f"{available['bundled']}.")
    raise ValueError(f"Could not retrieve url for '{dataset}'.")


def get_path(dataset: str) -> str:
    """Reference ``get_path``: bundled files only, no materialize-if-
    missing side effects beyond the deterministic generators."""
    return get_data(dataset)


def list_downloads() -> list:
    """Materialized dataset files ``get_data`` has produced (reference
    ``list_downloads``, utils/download.py — there over the download
    dir; here over the deterministic materializations, which play the
    same role: regenerable artifacts fetched on demand)."""
    path = os.path.join(_SYNTH_DIR, "world.osm.pbf")
    return [path] if os.path.exists(path) else []


def clear_downloads(filepath: str | None = None) -> int:
    """Remove ``get_data``-materialized files (reference
    ``clear_downloads``). The parquet element tables are the engine's
    bundled inputs and are left untouched, exactly as the reference
    leaves its bundled package datasets. Returns files removed."""
    removed = 0
    for p in list_downloads():
        if filepath is not None and os.path.basename(p) != os.path.basename(
                str(filepath)) and p != str(filepath):
            continue
        os.remove(p)
        removed += 1
    return removed
