"""Pure-NumPy kernels (no Spark imports) — unit-testable against every
golden vector from the reference test suite with zero Spark overhead."""

from .geohash import (  # noqa: F401
    BASE32,
    DIRECTIONS,
    MAX_PRECISION,
    bounding_box,
    children,
    clamp_latitude,
    decode,
    encode,
    encode_ints,
    is_valid,
    lat_lng_steps,
    neighbor,
    neighbors,
    normalize_longitude,
    parent,
)
from .distance import (  # noqa: F401
    EARTH_RADIUS_M,
    cell_size_m,
    haversine_m,
    precision_for_radius,
)
from .circle import cover_circle  # noqa: F401
from .compress import compress  # noqa: F401
from .polygon import (  # noqa: F401
    cover_part,
    cover_polygon,
    parse_wkt,
    part_grid_range,
    points_inside,
    split_antimeridian,
)
