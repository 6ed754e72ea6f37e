"""gh_* Spark column-function family.

Native (JVM, whole-stage codegen) where expressible; Arrow pandas UDFs
otherwise. ``oracle`` holds the DuckDB SQL twins used by the driver's
correctness gate.
"""

from .native import (  # noqa: F401
    geocode_from_url,
    gh_children,
    gh_is_valid,
    gh_parent,
    gh_truncate,
    haversine_m,
    with_geohash,
)
from .udfs import (  # noqa: F401
    gh_bbox,
    gh_decode,
    gh_neighbor,
    gh_neighbors,
    point_in_polygon,
)
from . import oracle  # noqa: F401
from . import precision  # noqa: F401
