"""Function layer: the cell grid F1-F4 (hexgrid selects h3 pandas UDFs
when h3 is installed, else the square grid's JVM expressions), the h3lite
hex lattice and the Python UDTFs."""

from .hexgrid import (  # noqa: F401
    HAVE_H3,
    cell_of,
    cell_centroid,
    grid_distance,
    k_ring,
)
