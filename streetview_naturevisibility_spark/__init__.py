"""streetview_naturevisibility_spark — a from-scratch PySpark-native
spatial-join + tiling analytics engine.

Re-creates the query semantics of
Spatial-Data-Science-and-GEO-AI-Lab/StreetView-NatureVisibility
(reference at /root/reference, cited per-operator in docstrings) over
Common-Crawl-style web-page tables, built Spark-first:

- declarative DataFrame plans (Catalyst does pushdown/pruning/join
  selection/AQE),
- tile/cell assignment as native Column math (whole-stage codegen),
- geometry kernels as Arrow-vectorized pandas UDFs (pure NumPy — no
  per-row Python),
- explicit cell partitioning for spatial joins,
- checkpoint/lineage layer for resumable stages.
"""

__version__ = "0.1.0"
