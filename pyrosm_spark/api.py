"""The pyrosm-shaped user API: the `OSM` facade class.

The reference's entire user surface is one class (`pyrosm/pyrosm.py`
`OSM`, 1623 LoC): construct with a data source + optional bounding box,
then call typed layer methods. This facade reproduces that surface over
the distributed operators so a reference user can switch engines by
changing the constructor — same method names, same parameter names,
DataFrames out instead of GeoDataFrames.

Differences, all deliberate:
- the PREFERRED source is a directory of columnar element tables
  (parquet / Iceberg via `sources.read_table`) — ingest is a one-time
  upstream step at 100 TB. A `.osm.pbf` file path also works (the
  reference's constructor input), decoded distributed by the
  from-scratch codec in `sources.pbf`;
- methods return lazy DataFrames: the HEAVY work (decode, joins,
  geometry) runs only when an action does, so chaining a bbox + filter
  compiles into ONE Catalyst plan with pushdown (the reference
  re-parses the PBF per call and caches, `pyrosm.py:255-271`). Only
  the occurring-tag-keys scan that decides presentation columns runs
  at call time (the result schema is data-driven, so it cannot be
  deferred). Relation assembly picks its member-lookup joins from
  Catalyst's static size estimates, which runs no job; only when the
  way or node table is estimated over the broadcast threshold (a
  planet's) does one count probe of the member set run;
- `engine=`/`workers=` knobs don't exist — parallelism belongs to the
  SparkSession.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyrosm_spark.operators import layers as L
from pyrosm_spark.operators import osm_source
from pyrosm_spark.operators.network import get_network as _get_network


def _validate_bbox(bounding_box):
    """List-form bbox validation (pyrosm.py:160-170): [minx, miny,
    maxx, maxy], min < max on both axes. Geometry-form bboxes are a
    GeoDataFrame feature the engine expresses as WKB polygon filters —
    pass those to spatial_join.point_in_polygon_join instead."""
    if bounding_box is None:
        return None
    if not isinstance(bounding_box, (list, tuple)):
        raise ValueError(
            "bounding_box should be a list or tuple of 4 coordinates "
            "[minx, miny, maxx, maxy]. Geometry-form bboxes (Shapely "
            "Polygon / LinearRing, which the reference accepts) are not "
            "supported by this facade — express the shape as a polygon "
            "filter via pyrosm_spark.operators.spatial_join."
            "point_in_polygon_join instead.")
    bb = list(bounding_box)
    if len(bb) != 4:
        raise ValueError(
            "When passing bounding box as a list it should contain 4 "
            "coordinates: [minx, miny, maxx, maxy].")
    minx, miny, maxx, maxy = bb
    if minx >= maxx or miny >= maxy:
        raise ValueError(
            f"Invalid bounding box {bounding_box}: expected "
            "[minx, miny, maxx, maxy] with minx < maxx and miny < maxy. "
            "Please double-check the order of the coordinates (they may "
            "be swapped/inverted).")
    return (minx, miny, maxx, maxy)


def _to_unix_time(timestamp) -> int:
    """The reference's `get_unix_time` input forms
    (utils/__init__.py:314-341): an int passes through as unix seconds;
    a str / datetime / pandas Timestamp parses as UTC. Its 2005-to-now
    bounds checks are tied to real OSM history and deliberately NOT
    applied — synthetic worlds use small integer clocks that would
    always fail them."""
    if isinstance(timestamp, bool):
        raise ValueError(f"invalid timestamp {timestamp!r}")
    if isinstance(timestamp, int):
        return timestamp
    import pandas as pd

    try:
        dt = pd.to_datetime(timestamp, utc=True)
    except (ValueError, TypeError) as e:
        raise ValueError(
            f"could not parse timestamp {timestamp!r}: pass unix "
            f"seconds (int), an ISO date string, or a datetime") from e
    if pd.isna(dt):
        raise ValueError(f"could not parse timestamp {timestamp!r}")
    return int(dt.value // 1_000_000_000)


class OSM:
    """`OSM(spark, data_dir, bounding_box=[...])` — the reference's
    constructor shape (`pyrosm.py:128-204`) minus file-format concerns.

    All layer methods accept the reference's parameter names
    (`custom_filter`, `filter_type`, `timestamp`, `nodes`, ...) and
    return DataFrames with `osm_type`/`geometry`(WKB)/tag columns.
    """

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        bounding_box=None,
        keep_metadata: bool = True,
        complete_relations: bool = False,
    ):
        if not isinstance(keep_metadata, bool):
            raise ValueError("'keep_metadata' should be a boolean.")
        if not isinstance(complete_relations, bool):
            raise ValueError("'complete_relations' should be a boolean.")
        self.spark = spark
        self.data_dir = data_dir
        self.bounding_box = _validate_bbox(bounding_box)
        self.keep_metadata = keep_metadata
        self.complete_relations = complete_relations
        # reference pyrosm.py:185 — opt-in 'nodes' (way-refs) column on
        # feature frames; set osm.keep_node_info = True to keep it
        self.keep_node_info = False
        self._tables = None
        # per-instance conf (reference pyrosm.py: self.conf = Conf):
        # mutations like osm.conf.tags.highway.append(...) widen that
        # instance's layer columns and never leak across instances
        self.conf = Conf()

    # -- source -----------------------------------------------------------

    def _osm(self):
        if self._tables is None:
            self._tables = osm_source.load_osm(self.spark, self.data_dir)
        return self._tables

    def _at(self, df: DataFrame, timestamp) -> DataFrame:
        """Reference `timestamp=` semantics (F11 + A1): restrict to
        versions at/before the instant, then latest-per-id."""
        if timestamp is None:
            return df
        ts = _to_unix_time(timestamp)
        return osm_source.latest_version(osm_source.at_timestamp(df, ts))

    def _src(self, timestamp=None):
        nodes, ways, rels = self._osm()
        if timestamp is not None:
            nodes = self._at(nodes, timestamp)
            ways = self._at(ways, timestamp)
            rels = self._at(rels, timestamp)
        return nodes, ways, rels

    def _tag_cols(self, layer_keys, tags_to_keep, extra_attributes):
        """Reference column-control semantics (pyrosm.py:451-466):
        ``tags_to_keep`` REPLACES the layer's default tag-column set,
        ``extra_attributes`` APPENDS to it; both affect presentation
        columns only, never filtering. The layer default is the union
        of THIS instance's ``conf.tags.<key>`` lists, so conf
        customization drives execution exactly like the reference."""
        if tags_to_keep is not None:
            base = list(tags_to_keep)
        else:
            seen: set = set()
            base = []
            for key in layer_keys:
                for t in getattr(self.conf.tags, key):
                    if t not in seen:
                        seen.add(t)
                        base.append(t)
        for k in extra_attributes or []:
            if k not in base:
                base.append(k)
        return base

    # -- layers (pyrosm.py method-for-method) -----------------------------

    def get_network(self, network_type: str = "walking",
                    nodes: bool = False, timestamp=None,
                    custom_filter=None, filter_type=None,
                    tags_to_keep=None, extra_attributes=None):
        """pyrosm.py:314-497. Returns edges, or (nodes, edges) when
        ``nodes=True`` (segment-level with u/v/length). ``filter_type``
        overrides the custom filter's default direction (dict →
        'exclude', advanced → 'keep'); a dict filter's keys are exposed
        as presentation columns too (pyrosm.py:455-459)."""
        n, w, _ = self._src(timestamp)
        tc = self._tag_cols(("highway",), tags_to_keep, extra_attributes)
        if custom_filter is not None:
            from pyrosm_spark.functions.filters import compile_custom_filter
            cf = compile_custom_filter(custom_filter)
            for key in cf.keys() if hasattr(cf, "keys") else []:
                if key not in tc:
                    tc.append(key)
        kw = {"tag_cols": tc}
        return _get_network(n, w, network_type, custom_filter=custom_filter,
                            bbox=self.bounding_box, with_nodes=nodes,
                            filter_type=filter_type,
                            keep_refs=self.keep_node_info,
                            keep_metadata=self.keep_metadata, **kw)

    def get_buildings(self, custom_filter=None, timestamp=None,
                   tags_to_keep=None, extra_attributes=None) -> DataFrame:
        n, w, r = self._src(timestamp)
        return L.get_buildings(
            n, w, r, custom_filter, bbox=self.bounding_box,
            keep_metadata=self.keep_metadata,
            tag_cols=self._tag_cols(("building",), tags_to_keep,
                                    extra_attributes),
            complete_relations=self.complete_relations,
            keep_refs=self.keep_node_info)

    def get_pois(self, custom_filter=None, timestamp=None,
                   tags_to_keep=None, extra_attributes=None) -> DataFrame:
        n, w, r = self._src(timestamp)
        return L.get_pois(
            n, w, r, custom_filter, bbox=self.bounding_box,
            keep_metadata=self.keep_metadata,
            tag_cols=self._tag_cols(("amenity", "shop", "tourism"),
                                    tags_to_keep, extra_attributes),
            complete_relations=self.complete_relations,
            keep_refs=self.keep_node_info)

    def get_landuse(self, custom_filter=None, timestamp=None,
                    tags_to_keep=None, extra_attributes=None) -> DataFrame:
        n, w, r = self._src(timestamp)
        return L.get_landuse(
            n, w, r, custom_filter, bbox=self.bounding_box,
            keep_metadata=self.keep_metadata,
            tag_cols=self._tag_cols(("landuse",), tags_to_keep,
                                    extra_attributes),
            complete_relations=self.complete_relations,
            keep_refs=self.keep_node_info)

    def get_natural(self, custom_filter=None, timestamp=None,
                    tags_to_keep=None, extra_attributes=None) -> DataFrame:
        n, w, r = self._src(timestamp)
        return L.get_natural(
            n, w, r, custom_filter, bbox=self.bounding_box,
            keep_metadata=self.keep_metadata,
            tag_cols=self._tag_cols(("natural",), tags_to_keep,
                                    extra_attributes),
            complete_relations=self.complete_relations,
            keep_refs=self.keep_node_info)

    def get_boundaries(self, boundary_type: str = "administrative",
                       name: str | None = None, custom_filter=None,
                       timestamp=None, tags_to_keep=None,
                       extra_attributes=None) -> DataFrame:
        from pyrosm_spark.functions.validators import validate_boundary_type

        boundary_type = validate_boundary_type(boundary_type)
        n, w, r = self._src(timestamp)
        return L.get_boundaries(
            n, w, r, boundary_type=boundary_type, name=name,
            keep_metadata=self.keep_metadata,
            custom_filter=custom_filter, bbox=self.bounding_box,
            tag_cols=self._tag_cols(("boundary",), tags_to_keep,
                                    extra_attributes),
            keep_refs=self.keep_node_info)

    def get_data_by_custom_criteria(
        self,
        custom_filter=None,
        osm_keys_to_keep=None,
        filter_type: str = "keep",
        tags_as_columns=None,
        extra_attributes=None,
        keep_nodes: bool = True,
        keep_ways: bool = True,
        keep_relations: bool = True,
        timestamp=None,
    ) -> DataFrame:
        """pyrosm.py:1019-1185. ``custom_filter=None`` = keep-all mode:
        every element carrying >=1 real tag, no key/value filtering
        (filter_type ignored, pyrosm.py:1117-1125).

        ``osm_keys_to_keep`` (str | list) is the candidate-key gate: an
        element must carry at least one of these keys in addition to
        the value filter. ``tags_as_columns`` replaces the derived
        presentation-column candidates; when absent they derive from
        the filter keys' default_tags lists exactly as the reference
        does (pyrosm.py:1148-1172 — keep-all mode exposes every known
        layer's candidates, unknown keys fall back to the filter keys
        themselves)."""
        from pyrosm_spark.functions.validators import (
            validate_booleans,
            validate_custom_filter,
            validate_osm_keys,
            validate_tags_as_columns,
        )
        custom_filter = validate_custom_filter(custom_filter)
        validate_osm_keys(osm_keys_to_keep)
        if isinstance(osm_keys_to_keep, str):
            osm_keys_to_keep = [osm_keys_to_keep]
        filter_type = str(filter_type).lower()
        if filter_type not in ("keep", "exclude"):
            raise ValueError(
                "'filter_type' -parameter should be either 'keep' or "
                "'exclude'.")
        validate_booleans(keep_nodes, keep_ways, keep_relations)

        keep_all = custom_filter is None
        if tags_as_columns is None:
            # Derived from THIS instance's conf.tags (pyrosm.py:1148-1167
            # uses getattr(self.conf.tags, k)) so user conf mutations
            # drive this method exactly like the sibling layer methods.
            cols: list = []
            if keep_all:
                for k in self.conf.tags.available:
                    cols += getattr(self.conf.tags, k)
            elif isinstance(custom_filter, dict):
                for k in custom_filter:
                    cols += getattr(self.conf.tags, k, [])
                if not cols:
                    cols = list(custom_filter.keys())
            else:
                # advanced (bracket) filter: the compiled filter's keys
                # supply the fallback the docstring promises
                from pyrosm_spark.functions.filters import (
                    compile_custom_filter,
                )

                keys = compile_custom_filter(custom_filter).keys()
                for k in keys:
                    cols += getattr(self.conf.tags, k, [])
                if not cols:
                    cols = list(keys)
            tags_as_columns = list(dict.fromkeys(cols))
        else:
            validate_tags_as_columns(tags_as_columns)
            tags_as_columns = list(tags_as_columns)
        if extra_attributes is not None:
            validate_tags_as_columns(extra_attributes)
            tags_as_columns += [k for k in extra_attributes
                                if k not in tags_as_columns]

        n, w, r = self._src(timestamp)
        return L.get_layer(
            n, w, r,
            custom_filter=custom_filter,
            filter_type=filter_type,
            keep_all=keep_all,
            include_nodes=keep_nodes,
            include_ways=keep_ways,
            include_relations=keep_relations,
            bbox=self.bounding_box,
            complete_relations=self.complete_relations,
            tag_cols=tags_as_columns,
            osm_keys=osm_keys_to_keep,
            keep_metadata=self.keep_metadata,
            keep_refs=self.keep_node_info,
        )

    # -- graph export (pyrosm.py:1357-1539) -------------------------------

    def to_graph(self, nodes: DataFrame, edges: DataFrame,
                 graph_type: str = "networkx",
                 network_type: str = "walking",
                 retain_all: bool = False,
                 osmnx_compatible: bool = True,
                 simplify: bool = False,
                 simplify_kwargs: dict | None = None):
        """pyrosm.py:1357-1539 ``to_graph``: dispatch on the validated
        graph_type. networkx builds fully; igraph/pandana run the same
        distributed pipeline + frame contracts and raise the
        reference's ImportError at the constructor when the lib is
        absent (as the reference itself does)."""
        from pyrosm_spark.functions.validators import validate_graph_type
        from pyrosm_spark.operators.export import (
            to_igraph,
            to_networkx,
            to_pandana,
        )

        graph_type = validate_graph_type(graph_type)
        kw = dict(network_type=network_type, retain_all=retain_all,
                  simplify=simplify, simplify_kwargs=simplify_kwargs)
        if graph_type == "networkx":
            return to_networkx(nodes, edges,
                               osmnx_compatible=osmnx_compatible, **kw)
        if graph_type == "igraph":
            return to_igraph(nodes, edges, **kw)
        return to_pandana(nodes, edges, **kw)

    def write_pbf(self, data, output_path: str,
                  subset_only: bool = False, now_ts: int = 0) -> str:
        """pyrosm.py:1286-1355 ``write_pbf``: write the dataset this
        instance holds back to a valid ``.osm.pbf``, applying tag
        edits from ``data`` (a feature DataFrame, or a list of them —
        matched by osm_type + id) and synthesizing NEW elements from
        the geometry of unmatched rows (Point → node, LineString →
        way, hole-less Polygon → closed way; negative ids).
        ``subset_only=True`` writes only the matched elements plus
        their reference closure. See ``sources/pbf_edit.py``."""
        from pyrosm_spark.sources.pbf_edit import write_pbf_with_edits

        if isinstance(data, (list, tuple)):
            frames = list(data)
            combined = frames[0]
            for extra in frames[1:]:
                combined = combined.unionByName(
                    extra, allowMissingColumns=True)
            data = combined
        nodes, ways, rels = self._src()
        write_pbf_with_edits(nodes, ways, rels, data, output_path,
                             subset_only=subset_only, now_ts=now_ts)
        return output_path

    def to_pbf(self, output_path: str | None = None,
               keep_relations: bool = True, workers: int | None = None,
               compact: bool = False, repack: bool = False) -> str:
        """pyrosm.py:1208-1285 ``to_pbf``: crop this instance's world
        by its ``bounding_box`` (complete-ways semantics — a way with
        >=1 in-box node keeps its FULL node list) and write a valid,
        re-readable ``.osm.pbf``. ``keep_relations=False`` drops crop
        stage 3. Returns the written path (a temp file when
        ``output_path`` is None, like the reference).

        ``workers``/``compact``/``repack`` are accepted for signature
        parity: the distributed writer always encodes blocks in
        parallel across Spark tasks (``workers`` has no separate
        meaning) and always emits canonical densely packed blocks with
        minimal string tables — the reference's ``repack=True`` best
        case — so ``compact``/``repack`` change nothing here."""
        import tempfile

        from pyrosm_spark.operators.crop import crop_tables
        from pyrosm_spark.sources.pbf import write_pbf

        if self.bounding_box is None:
            raise ValueError(
                "Cropping a PBF requires a bounding box. Construct the "
                "OSM object with a `bounding_box=...` before calling "
                "`to_pbf()`.")
        if output_path is None:
            import os

            fd, output_path = tempfile.mkstemp(suffix=".osm.pbf",
                                               prefix="pyrosm_spark_crop_")
            os.close(fd)
        nodes, ways, rels = self._src()
        n, w, r = crop_tables(nodes, ways, rels, tuple(self.bounding_box))
        if not keep_relations:
            r = r.limit(0)
        write_pbf(n, w, r, output_path)
        return output_path

    # -- cache / downloads management (pyrosm.py:1542-1617) ---------------

    @staticmethod
    def list_cache(root: str | None = None) -> list:
        """Materialized checkpoint-stage directories (the engine's
        result cache; reference ``OSM.list_cache``)."""
        from pyrosm_spark.plans.checkpoint import list_cache_files

        return list_cache_files(root)

    @staticmethod
    def clear_cache(root: str | None = None) -> int:
        """Remove checkpoint-stage directories; returns count
        (reference ``OSM.clear_cache``)."""
        from pyrosm_spark.plans import checkpoint

        return checkpoint.clear_cache(root)

    @staticmethod
    def list_downloads() -> list:
        """Files materialized by ``pyrosm_spark.data.get_data``
        (reference ``OSM.list_downloads``)."""
        from pyrosm_spark.data import list_downloads

        return list_downloads()

    @staticmethod
    def clear_downloads(filepath: str | None = None) -> int:
        """Remove ``get_data``-materialized files; returns count
        (reference ``OSM.clear_downloads``)."""
        from pyrosm_spark.data import clear_downloads

        return clear_downloads(filepath)


class _Tags:
    """``osm.conf.tags`` — the reference's per-key candidate-column
    registry (config/__init__.py:36-90) over operators/default_tags."""

    def __init__(self):
        from pyrosm_spark.operators.default_tags import (
            BASIC_INFO_TAGS,
            TAG_COLUMNS,
        )

        self.available = sorted(TAG_COLUMNS)
        self._basic_tags = list(BASIC_INFO_TAGS)
        for k, cols in TAG_COLUMNS.items():
            setattr(self, k, list(cols))


class _NetworkFilters:
    """``osm.conf.network_filters`` (config/__init__.py:29-33)."""

    def __init__(self):
        from pyrosm_spark.operators.presets import network_filter

        self.driving = network_filter("driving")
        self.driving_psv = network_filter("driving+psv")
        self.walking = network_filter("walking")
        self.cycling = network_filter("cycling")


class Conf:
    """``osm.conf`` — the reference's configuration surface
    (config/__init__.py:94-103): candidate tag lists, network filter
    dicts, oneway values. Built per OSM instance; the layer methods
    derive their default tag columns from ``conf.tags`` at call time,
    so what a user inspects (and mutates) IS what executes."""

    def __init__(self):
        from pyrosm_spark.operators.presets import ONEWAY_VALUES

        self.tags = _Tags()
        self.network_filters = _NetworkFilters()
        self.oneway_values = list(ONEWAY_VALUES)
