"""Output checks. Every written table is read back through DuckDB, a
reader independent of Spark, and compared with the planted truth of the
generated inputs or with a NumPy recount. Each check returns a list of
failure messages; an empty list means the output is correct."""

from __future__ import annotations

import os
import re

import duckdb
import numpy as np

from inputs import PACK_TOKENS, SNAP_RADIUS

BRUTE_FORCE_POINTS = 200


def _db() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _pq(path: str) -> str:
    return "'" + os.path.join(path, "*.parquet") + "'"


def check_pipeline(out: str, truth: dict) -> list[str]:
    """`cli pipeline` output under ``out`` (gvi_per_road, gvi_points and
    the _ckpt stages)."""
    bad = []
    con = _db()
    ckpt = os.path.join(out, "_ckpt")
    n_points = truth["n_points"]
    got = {
        "sample points": con.sql(f"SELECT count(*) FROM {_pq(os.path.join(ckpt, 'sample_points', 'data'))}").fetchone()[0],
        "gvi_points rows": con.sql(f"SELECT count(*) FROM {_pq(os.path.join(out, 'gvi_points'))}").fetchone()[0],
        "sum(total_points)": con.sql(f"SELECT sum(total_points) FROM {_pq(os.path.join(out, 'gvi_per_road'))}").fetchone()[0],
    }
    bad += [f"{k} = {v}, expected {n_points}" for k, v in got.items() if v != n_points]

    far = con.sql(
        f"SELECT count(*) FROM {_pq(os.path.join(out, 'gvi_points'))} "
        f"WHERE page_url <> '' AND NOT (snap_distance < {SNAP_RADIUS})"
    ).fetchone()[0]
    if far:
        bad.append(f"{far} hits with snap_distance >= {SNAP_RADIUS} m")

    # tiling: every page parsed back to the coordinates it was generated at
    idx, lon, lat = con.sql(
        f"SELECT CAST(split_part(url, '/', -1) AS BIGINT), lon, lat "
        f"FROM {_pq(os.path.join(ckpt, 'pages_prepared', 'data'))}"
    ).fetchnumpy().values()
    if len(idx) != truth["n_pages"]:
        bad.append(f"{len(idx)} prepared pages, expected {truth['n_pages']}")
    elif not (np.array_equal(lon, truth["page_lon"][idx]) and np.array_equal(lat, truth["page_lat"][idx])):
        bad.append("prepared page coordinates differ from the generated ones")

    # knn: nearest page within the bound, recounted by brute force
    step = max(1, n_points // BRUTE_FORCE_POINTS)
    pts = con.sql(
        f"SELECT p.point_id, p.x, p.y, g.page_url, g.snap_distance "
        f"FROM {_pq(os.path.join(ckpt, 'sample_points', 'data'))} p "
        f"JOIN {_pq(os.path.join(out, 'gvi_points'))} g USING (point_id) "
        f"WHERE p.point_id % {step} = 0 ORDER BY p.point_id"
    ).fetchnumpy()
    pages = con.sql(
        f"SELECT url, x, y FROM {_pq(os.path.join(ckpt, 'pages_prepared', 'data'))} ORDER BY url"
    ).fetchnumpy()
    dx = pts["x"][:, None] - pages["x"][None, :]
    dy = pts["y"][:, None] - pages["y"][None, :]
    d = np.sqrt(dx * dx + dy * dy)
    best = d.argmin(axis=1)  # first minimum = smallest url (pages sorted by url)
    dmin = d[np.arange(len(best)), best]
    hit = dmin < SNAP_RADIUS
    want_url = np.where(hit, pages["url"][best], "")
    got_url = np.asarray(pts["page_url"], dtype=object)
    wrong = np.flatnonzero(got_url != want_url)
    snap = np.asarray(pts["snap_distance"], dtype=float)
    off = np.flatnonzero(hit & ~(np.abs(snap - dmin) <= 1e-6))
    if len(wrong) or len(off):
        bad.append(
            f"brute-force kNN disagrees on {len(wrong)} urls and {len(off)} "
            f"distances of {len(best)} points"
        )
    con.close()
    return bad


def check_gap_fill(out: str, truth: dict) -> list[str]:
    """`cli gap-fill` output: the NDVI grid covers every sample point,
    so every point has NDVI and must get a filled GVI."""
    con = _db()
    n, unfilled = con.sql(
        f"SELECT count(*), count(*) FILTER (WHERE ndvi IS NOT NULL AND gvi_filled IS NULL) "
        f"FROM {_pq(os.path.join(out, 'gvi_filled'))}"
    ).fetchone()
    con.close()
    bad = []
    if n != truth["n_points"]:
        bad.append(f"gvi_filled has {n} rows, expected {truth['n_points']} (NDVI known everywhere)")
    if unfilled:
        bad.append(f"{unfilled} points with NDVI but no gvi_filled")
    return bad


_FUNNEL = re.compile(
    r"\[curate\] in=(\d+) quality>=\S+: (\d+) exact-dedup: (\d+) near-dedup: (\d+) sampled: (\d+)"
)
_DSIR = re.compile(r"\[dsir\] kept=(\d+) of (\d+)")


def parse_funnel(stdout: str) -> dict:
    """The funnel counts `cli curate` prints."""
    m, k = _FUNNEL.search(stdout), _DSIR.search(stdout)
    if not m or not k:
        return {}
    names = ("in", "quality", "exact", "near", "out")
    counts = dict(zip(names, map(int, m.groups())))
    counts["dsir_in"], counts["dsir"] = int(k.group(2)), int(k.group(1))
    return counts


def check_curate(out: str, counts: dict, truth: dict) -> list[str]:
    """`cli curate --dsir-target --pack-tokens` output plus its funnel counts."""
    if not counts:
        return ["funnel counts missing from the curate output"]
    n_dup = len(truth["dup_ids"])
    want = {
        "in": truth["n_docs"],
        "quality": truth["n_docs"] - truth["n_junk"],
        "exact": truth["n_docs"] - truth["n_junk"],
        "near": truth["n_docs"] - truth["n_junk"] - n_dup,
        "dsir_in": truth["n_docs"] - truth["n_junk"] - n_dup,
        "dsir": truth["dsir_keep"],
    }
    bad = [f"funnel {k} = {counts[k]}, expected {v}" for k, v in want.items() if counts[k] != v]
    stages = [counts[k] for k in ("in", "quality", "exact", "near", "dsir", "out")]
    if any(a < b for a, b in zip(stages, stages[1:])):
        bad.append(f"funnel counts grow between stages: {stages}")

    con = _db()
    bins, n_docs, n_tok, text = con.sql(
        f"SELECT bin_id, n_docs, n_tokens, packed_text FROM {_pq(os.path.join(out, 'curated'))} ORDER BY bin_id"
    ).fetchnumpy().values()
    con.close()
    docs = [d for t in text for d in t.split("\n\n")]
    if not docs:
        return bad + ["curation kept no docs"]
    if any(re.search(r"\b\d{16}\b", d) for d in docs):
        bad.append("planted junk survived curation")
    prefixes = {" ".join(d.split(" ")[:20]) for d in docs}
    if len(prefixes) != len(docs):
        bad.append(f"{len(docs) - len(prefixes)} planted near-duplicates survived curation")
    if len(docs) != counts["dsir"] or int(n_docs.sum()) != counts["dsir"]:
        bad.append(f"{len(docs)} packed docs, expected {counts['dsir']}")

    # packing: recount the start-offset bin of every doc in id order
    tok = np.array([d.count(" ") + 1 for d in docs], dtype=np.int64)
    start = np.concatenate([[0], np.cumsum(tok)[:-1]])
    recount = start // PACK_TOKENS
    per_doc_bin = np.repeat(bins, n_docs)
    total = int(tok.sum())
    if len(bins) != counts["out"]:
        bad.append(f"{len(bins)} packed rows, funnel says {counts['out']}")
    if not np.array_equal(per_doc_bin, recount) or int(n_tok.sum()) != total:
        bad.append("packed bins differ from the recount of the packing rule")
    # each doc opens in the bin its first token falls in, so the count is
    # ceil(tokens / budget), or one less when the last doc straddles a bin
    # boundary
    ceil = -(-total // PACK_TOKENS)
    if len(bins) != int(recount[-1]) + 1 or len(bins) not in (ceil, ceil - 1):
        bad.append(f"{len(bins)} bins for {total} tokens at {PACK_TOKENS} per bin")
    return bad
