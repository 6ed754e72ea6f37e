"""gh_* Spark column-function family.

Native (JVM, whole-stage codegen); the point-in-polygon refine is the
JVM even-odd test of ``operators.zonal.zone_members``. ``oracle`` holds
the DuckDB SQL twins that the correctness checks compare against.
"""

from .native import (  # noqa: F401
    geocode_from_url,
    gh_bbox,
    gh_children,
    gh_decode,
    gh_is_valid,
    gh_neighbor,
    gh_neighbors,
    gh_parent,
    gh_truncate,
    haversine_m,
    with_geohash,
)
from . import oracle  # noqa: F401
from . import precision  # noqa: F401
