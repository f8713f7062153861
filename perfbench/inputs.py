"""Seeded, vectorized input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): NumPy draws the
numbers, pyarrow builds the strings column-at-a-time (no per-row Python
loop over pages or docs), and the result is written as one parquet file
per table. Each generator also returns the planted truth the output
checks compare against.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from streetview_naturevisibility_spark.fixtures.generate import BBOX, UTM_ZONE
from streetview_naturevisibility_spark.geo.utm import utm_to_lonlat

SPACING = 50  # `cli pipeline --spacing` default: one sample point per 50 m
SNAP_RADIUS = 25.0  # half of `--max-distance 50`, the reference's snap bound
GAPFILL_DISTANCE = 100.0  # `cli gap-fill --distance`: NDVI buffer radius 50 m
PACK_TOKENS = 2048
DOC_TOKENS = 48  # < 50 tokens: good docs score 0.6, junk 0.1 (cut at 0.5)


def _decimal(values: np.ndarray, scale: int, digits: int) -> pa.Array:
    """Non-negative fixed-point ints -> decimal strings ("123.000450").
    ``int / 10**digits`` and ``float(str)`` both round the same exact
    decimal, so the parsed value equals ``values / scale`` bit for bit."""
    ip = pa.array(values // scale).cast(pa.string())
    fp = pc.utf8_lpad(pa.array(values % scale).cast(pa.string()), digits, "0")
    return pc.binary_join_element_wise(ip, fp, ".")


def _join_tokens(tokens: np.ndarray, lengths: np.ndarray) -> pa.Array:
    """Flat token strings + per-row lengths -> one space-joined string per row."""
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    lists = pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens, pa.string()))
    return pc.binary_join(lists, " ")


def _vocab(prefix: str, n: int) -> np.ndarray:
    """n distinct all-letter words: ``prefix`` + the index in base 26."""
    words = []
    for i in range(n):
        w = ""
        while True:
            i, r = divmod(i, 26)
            w += chr(97 + r)
            if not i:
                break
        words.append(prefix + w.ljust(3, "a"))
    return np.array(words, dtype=object)


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------- GVI

def _roads(rng: np.random.Generator, n_roads: int) -> dict:
    """Straight two-vertex roads inside the bbox. Coordinates are whole
    micrometres so the WKT text round-trips exactly and the reference
    point count below uses the same lengths the sampler computes."""
    x0, y0, x1, y1 = BBOX
    sx = x0 + 300.0 + rng.random(n_roads) * (x1 - x0 - 600.0)
    sy = y0 + 300.0 + rng.random(n_roads) * (y1 - y0 - 600.0)
    heading = rng.random(n_roads) * 2.0 * np.pi
    length = 200.0 + rng.random(n_roads) * 600.0
    ex = np.clip(sx + length * np.cos(heading), x0 + 50.0, x1 - 50.0)
    ey = np.clip(sy + length * np.sin(heading), y0 + 50.0, y1 - 50.0)
    um = [np.round(v * 1e6).astype(np.int64) for v in (sx, sy, ex, ey)]
    sx, sy, ex, ey = (v / 1e6 for v in um)
    txt = [_decimal(v, 10**6, 6) for v in um]
    wkt = pc.binary_join_element_wise(
        "LINESTRING (", txt[0], " ", txt[1], ", ", txt[2], " ", txt[3], ")", ""
    )
    # the sampler's length: sqrt of the summed squared np.diff, per segment
    d = np.stack([ex - sx, ey - sy], axis=1)
    seg = np.sqrt((d**2).sum(axis=1))
    stop = seg.astype(np.int64)
    n_points = int(np.where(stop >= 1, (stop + SPACING - 1) // SPACING, 0).sum())
    ids = pc.binary_join_element_wise("r", pc.utf8_lpad(pa.array(np.arange(n_roads)).cast(pa.string()), 5, "0"), "")
    highway = np.array(["residential", "primary", "secondary", "tertiary", "cycleway"])
    table = pa.table(
        {
            "road_id": ids,
            "geometry_wkt": wkt,
            "length": pa.array(seg),
            "highway": pa.array(highway[np.arange(n_roads) % 5]),
        }
    )
    return {"table": table, "n_points": n_points}


def _pages(rng: np.random.Generator, x: np.ndarray, y: np.ndarray) -> pa.Table:
    """Web pages with the pinned html template (see fixtures.generate.
    page_html) at UTM positions (x, y); lat/lon are printed with seven
    decimals, as the template does."""
    n = len(x)
    lon, lat = utm_to_lonlat(x, y, UTM_ZONE)
    lat_e7 = np.round(lat * 1e7).astype(np.int64)
    lon_e7 = np.round(lon * 1e7).astype(np.int64)
    lengths = rng.integers(40, 120, size=n)
    vocab = _vocab("v", 512)
    text = _join_tokens(vocab[rng.integers(0, len(vocab), size=int(lengths.sum()))], lengths)
    idx = pa.array(np.arange(n)).cast(pa.string())
    html = pc.binary_join_element_wise(
        "<html><head><title>t", idx, "</title></head><body><p>", text,
        "</p><span class='geo' data-lat='", _decimal(lat_e7, 10**7, 7),
        "' data-lon='", _decimal(lon_e7, 10**7, 7), "'></span></body></html>", "",
    )
    ts = np.datetime64("2023-01-01T00:00:00", "us") + rng.integers(0, 31_536_000, size=n).astype("timedelta64[s]")
    langs = np.array(["en", "nl", "de", "fr"])
    return pa.table(
        {
            "url": pc.binary_join_element_wise("https://site.example.org/p/", idx, ""),
            "warc_ts": pa.array(ts.astype("datetime64[us]")),
            "html": html.cast(pa.binary()),
            "text": text,
            "lang": pa.array(langs[rng.integers(0, 4, size=n)]),
            "lon": pa.array(lon_e7 / 1e7),
            "lat": pa.array(lat_e7 / 1e7),
            "is_panoramic": pa.array(rng.random(n) < 0.2),
        }
    )


def _ndvi_grid(rng: np.random.Generator) -> pa.Table:
    """10 m NDVI cells over the whole bbox (every sample point has a
    known NDVI), a smooth seeded field with 2% negative cells."""
    x0, y0, x1, y1 = BBOX
    nx, ny = int((x1 - x0) / 10), int((y1 - y0) / 10)
    ix, iy = (a.ravel() for a in np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij"))
    cx = x0 + 5.0 + 10.0 * ix
    cy = y0 + 5.0 + 10.0 * iy
    px, py = rng.random(2) * 2.0 * np.pi
    value = 0.5 + 0.4 * np.sin(cx / 300.0 + px) * np.cos(cy / 500.0 + py)
    value = np.where(rng.random(len(cx)) < 0.02, value - 1.0, value)
    return pa.table(
        {
            "cell_x": pa.array(ix.astype(np.int32)),
            "cell_y": pa.array(iy.astype(np.int32)),
            "cx": pa.array(cx),
            "cy": pa.array(cy),
            "value": pa.array(value),
        }
    )


def gvi_inputs(out_dir: str, seed: int, n_roads: int, n_pages: int) -> dict:
    """roads.parquet, pages.parquet (uniform over the bbox) and
    ndvi_grid.parquet."""
    rng = np.random.default_rng([seed, n_roads, n_pages])
    os.makedirs(out_dir, exist_ok=True)
    roads = _roads(rng, n_roads)
    x0, y0, x1, y1 = BBOX
    px = x0 + rng.random(n_pages) * (x1 - x0)
    py = y0 + rng.random(n_pages) * (y1 - y0)
    pages = _pages(rng, px, py)
    paths = {
        "roads": _write(roads["table"], os.path.join(out_dir, "roads.parquet")),
        "pages": _write(pages, os.path.join(out_dir, "pages.parquet")),
        "ndvi_grid": _write(_ndvi_grid(rng), os.path.join(out_dir, "ndvi_grid.parquet")),
    }
    truth = {
        "n_points": roads["n_points"],
        "n_pages": n_pages,
        # indexed by the page number at the end of its url
        "page_lon": pages.column("lon").to_numpy(),
        "page_lat": pages.column("lat").to_numpy(),
    }
    return {"paths": paths, "truth": truth}


# ------------------------------------------------------------ curation

def curate_inputs(out_dir: str, seed: int, n_docs: int) -> dict:
    """docs.parquet with planted roles, plus the DSIR target sample.

    - junk (5%): 16-digit tokens -> quality 0.1, below the 0.5 cut;
    - near-duplicates (1%): the previous doc's text plus " extra"
      (token-shingle Jaccard ~0.98);
    - target domain (3%): words from a vocabulary disjoint from the
      general one; ``target.parquet`` holds fresh docs of that domain.
    """
    rng = np.random.default_rng([seed, n_docs])
    os.makedirs(out_dir, exist_ok=True)
    role = np.zeros(n_docs, dtype=np.int8)  # 0 general, 1 junk, 2 target
    order = rng.permutation(n_docs)
    n_junk = int(n_docs * 0.05)
    n_target = int(n_docs * 0.03)
    role[order[:n_junk]] = 1
    role[order[n_junk : n_junk + n_target]] = 2
    # a near-dup copies doc i-1; neither may be junk or another copy
    cand = np.flatnonzero((role[1:] != 1) & (role[:-1] != 1)) + 1
    dup = np.sort(rng.choice(cand, size=int(n_docs * 0.01), replace=False))
    dup = dup[~np.isin(dup - 1, dup)]
    role[dup] = role[dup - 1]

    general, target = _vocab("w", 30_000), _vocab("t", 2_000)
    toks = general[rng.integers(0, len(general), size=(n_docs, DOC_TOKENS))]
    is_t = role == 2
    toks[is_t] = target[rng.integers(0, len(target), size=(int(is_t.sum()), DOC_TOKENS))]
    toks[dup] = toks[dup - 1]
    junk = role == 1
    digits = rng.integers(0, 10**16, size=(int(junk.sum()), DOC_TOKENS), dtype=np.int64)
    toks[junk] = np.char.zfill(digits.astype(str), 16).astype(object)
    text = _join_tokens(toks.ravel(), np.full(n_docs, DOC_TOKENS))
    is_dup = np.zeros(n_docs, dtype=bool)
    is_dup[dup] = True
    text = pc.if_else(pa.array(is_dup), pc.binary_join_element_wise(text, " extra", ""), text)
    langs = np.array(["en", "de", "fr", "es", "zh"])
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": text,
            "lang": pa.array(langs[rng.integers(0, 5, size=n_docs)]),
        }
    )
    n_ref = 500
    ref = target[rng.integers(0, len(target), size=n_ref * DOC_TOKENS)]
    tgt = pa.table({"text": _join_tokens(ref, np.full(n_ref, DOC_TOKENS))})
    paths = {
        "docs": _write(docs, os.path.join(out_dir, "docs.parquet")),
        "target": _write(tgt, os.path.join(out_dir, "target.parquet")),
    }
    truth = {
        "n_docs": n_docs,
        "n_junk": int(junk.sum()),
        "dup_ids": dup.tolist(),
        # DSIR keeps as many docs as the target domain has distinct ones
        "dsir_keep": int(is_t.sum() - (is_t & is_dup).sum()),
    }
    return {"paths": paths, "truth": truth}
