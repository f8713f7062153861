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

import os

# One BLAS thread per process: without it each of local[N]'s N Python
# workers spawns a core-count OpenBLAS pool, and N x N spinning threads
# drive the box into >95% system time (a SemDeDup matmul: 20+ min vs ~1
# min pinned). OpenBLAS reads these once, when ``import pyspark`` loads
# NumPy, so the pin is set here, before any submodule imports either;
# the JVM starts later and hands it to its workers. Pre-set values win;
# on a real cluster set spark.executorEnv.* too.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

__version__ = "0.1.0"
