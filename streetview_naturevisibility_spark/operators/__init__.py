"""Engine operators: sampling, tiling, kNN snap join, zonal stats, GVI
scoring, aggregation/metrics, dedup, similarity, gap-fill,
resume/lineage."""
