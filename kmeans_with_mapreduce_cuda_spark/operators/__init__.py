from .kmeans import (  # noqa: F401
    Centroids2D,
    assign_2d,
    assign_nd,
    lloyd_2d,
    lloyd_nd,
    seed_centroids_2d,
    seed_centroids_nd,
    sse_2d,
    update_2d,
)
