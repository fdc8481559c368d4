"""Deterministic synthetic input tables (seed-fixed; no external data).

``osm.py`` builds the OSM-element-model tables (nodes/ways/relations,
FIXTURES.md §2-4) covering every geometry/filter case the reference's
tests exercise; ``images.py`` builds the image+caption payload table
(FIXTURES.md §1, BASELINE.json input_hint).
"""

from pyrosm_spark.synth.osm import generate_osm_tables, ensure_osm_tables  # noqa: F401
from pyrosm_spark.synth.images import (  # noqa: F401
    ensure_images_table,
    generate_images_table,
)
