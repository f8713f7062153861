"""Isochrone area-of-interest per POI — reference F6
(modules/availability.py:245-262 ego-graph walk + :937-958
``make_iso_poly``: union of buffered subgraph edges, exterior ring
fill).

Reference flow per point of interest: nearest street-graph node →
``nx.ego_graph(radius=buffer_dist, distance='length')`` → buffer every
subgraph edge by ``edge_buff`` (25 m) → ``unary_union`` →
``Polygon(exterior)`` so enclosed holes are filled solid.

Engine form: the street graph is a bounded dimension (one city), so it
broadcasts into an ``applyInPandas`` kernel grouped by ``poi_id`` — the
standard per-group imperative-NumPy pattern. Inside the kernel:

1. nearest node by euclidean distance (the reference's
   ``ox.distance.nearest_nodes``),
2. bounded Dijkstra over edge lengths (the ego graph),
3. the buffered-edge union discretized on a ``grid`` meter lattice:
   a lattice cell belongs to the isochrone iff its center lies within
   ``edge_buff`` of any reachable edge (vectorized
   ``dist_points_to_segments`` per edge batch),
4. exterior fill: lattice cells NOT 4-connected-reachable from outside
   the bounding frame are holes — filled, mirroring
   ``sg.Polygon(isochrone_poly.exterior)``.

Output: one row per (poi_id, gx, gy) lattice cell — a long-form raster
mask downstream zonal/overlay operators consume directly; area is
``count * grid**2``.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..geo.polygon import dist_points_to_segments

_ISO_SCHEMA = StructType(
    [
        StructField("poi_id", LongType()),
        StructField("gx", LongType()),
        StructField("gy", LongType()),
    ]
)


def _dijkstra_reachable(
    adj: dict[int, list[tuple[int, float]]], start: int, radius: float
) -> dict[int, float]:
    dist = {start: 0.0}
    heap = [(0.0, start)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, np.inf):
            continue
        for v, w in adj.get(u, ()):
            nd = d + w
            if nd <= radius and nd < dist.get(v, np.inf):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def _fill_exterior(mask: np.ndarray) -> np.ndarray:
    """Cells not 4-connected to the frame through empty space are holes
    -> filled (Polygon(exterior) semantics). Vectorized frontier sweep."""
    h, w = mask.shape
    outside = np.zeros((h + 2, w + 2), dtype=bool)
    blocked = np.zeros((h + 2, w + 2), dtype=bool)
    blocked[1:-1, 1:-1] = mask
    outside[0, :] = outside[-1, :] = True
    outside[:, 0] = outside[:, -1] = True
    while True:
        grow = np.zeros_like(outside)
        grow[1:, :] |= outside[:-1, :]
        grow[:-1, :] |= outside[1:, :]
        grow[:, 1:] |= outside[:, :-1]
        grow[:, :-1] |= outside[:, 1:]
        grow &= ~blocked
        new = outside | grow
        if (new == outside).all():
            break
        outside = new
    return ~outside[1:-1, 1:-1]  # inside-or-hole = final mask


def _iso_kernel_factory(
    nodes_xy: np.ndarray,
    node_ids: np.ndarray,
    segments: list[tuple[int, int, float]],
    buffer_dist: float,
    edge_buff: float,
    grid: float,
):
    id_to_idx = {int(n): i for i, n in enumerate(node_ids)}
    adj: dict[int, list[tuple[int, float]]] = {}
    for u, v, w in segments:
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out_frames = []
        for row in pdf.itertuples(index=False):
            # 1. nearest node
            d2 = (nodes_xy[:, 0] - row.x) ** 2 + (nodes_xy[:, 1] - row.y) ** 2
            center = int(node_ids[int(d2.argmin())])
            # 2. ego graph
            reach = _dijkstra_reachable(adj, center, buffer_dist)
            segs = [
                (u, v)
                for u, v, _ in segments
                if u in reach and v in reach
            ]
            if not segs:
                continue
            pts = np.array(
                [
                    [nodes_xy[id_to_idx[u]], nodes_xy[id_to_idx[v]]]
                    for u, v in segs
                ]
            )  # (m, 2, 2)
            # 3. lattice membership within edge_buff of any edge
            lo = pts.reshape(-1, 2).min(axis=0) - edge_buff
            hi = pts.reshape(-1, 2).max(axis=0) + edge_buff
            gx0, gy0 = int(np.floor(lo[0] / grid)), int(np.floor(lo[1] / grid))
            gx1, gy1 = int(np.ceil(hi[0] / grid)), int(np.ceil(hi[1] / grid))
            xs = (np.arange(gx0, gx1 + 1) + 0.5) * grid
            ys = (np.arange(gy0, gy1 + 1) + 0.5) * grid
            XX, YY = np.meshgrid(xs, ys, indexing="ij")
            flat_x, flat_y = XX.ravel(), YY.ravel()
            near = np.full(flat_x.shape, np.inf)
            for u, v in segs:
                seg = np.array([nodes_xy[id_to_idx[u]], nodes_xy[id_to_idx[v]]])
                near = np.minimum(
                    near, dist_points_to_segments(flat_x, flat_y, seg)
                )
            mask = (near <= edge_buff).reshape(XX.shape)
            # 4. fill enclosed holes (exterior-ring semantics)
            mask = _fill_exterior(mask)
            gx, gy = np.nonzero(mask)
            out_frames.append(
                pd.DataFrame(
                    {
                        "poi_id": np.int64(row.poi_id),
                        "gx": (gx + gx0).astype(np.int64),
                        "gy": (gy + gy0).astype(np.int64),
                    }
                )
            )
        if not out_frames:
            return pd.DataFrame({"poi_id": [], "gx": [], "gy": []}).astype("int64")
        return pd.concat(out_frames, ignore_index=True)

    return kernel


def isochrone_cells(
    pois: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    buffer_dist: float = 500.0,
    edge_buff: float = 25.0,
    grid: float = 10.0,
) -> DataFrame:
    """pois(poi_id, x, y) x nodes(node_id, x, y) x edges(u, v[, length])
    -> (poi_id, gx, gy) isochrone lattice cells.

    The graph collects driver-side (bounded dimension) and broadcasts
    into the grouped kernel via closure; POIs fan out across executors
    grouped by poi_id. Edge length defaults to euclidean when the
    column is absent."""
    node_rows = nodes.select("node_id", "x", "y").collect()
    node_ids = np.array([r.node_id for r in node_rows], dtype=np.int64)
    nodes_xy = np.array([[r.x, r.y] for r in node_rows], dtype=np.float64)
    idx = {int(n): i for i, n in enumerate(node_ids)}
    has_len = "length" in edges.columns
    seg_rows = edges.select("u", "v", *(["length"] if has_len else [])).collect()
    segments = []
    for r in seg_rows:
        u, v = int(r.u), int(r.v)
        if u not in idx or v not in idx:
            continue
        w = (
            float(r.length)
            if has_len
            else float(np.hypot(*(nodes_xy[idx[u]] - nodes_xy[idx[v]])))
        )
        segments.append((u, v, w))

    kernel = _iso_kernel_factory(
        nodes_xy, node_ids, segments, buffer_dist, edge_buff, grid
    )
    return (
        pois.select(F.col("poi_id").cast("long"), "x", "y")
        .groupBy("poi_id")
        .applyInPandas(kernel, _ISO_SCHEMA)
    )


def isochrone_area(iso_cells: DataFrame, grid: float = 10.0) -> DataFrame:
    """(poi_id, n_cells, area_m2) rollup of the lattice mask."""
    return iso_cells.groupBy("poi_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.count(F.lit(1)) * F.lit(grid * grid)).alias("area_m2"),
    )
