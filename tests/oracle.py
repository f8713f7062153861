"""Pure pandas/NumPy oracle — a faithful re-statement of the reference
repo's semantics (NOT engine code; used only to produce expected values
in tests). Each function cites the reference lines it mirrors."""

from __future__ import annotations

from collections import deque

import numpy as np
import pandas as pd

from streetview_naturevisibility_spark.geo.polygon import (
    interpolate_along,
    parse_wkt_coords,
)


def oracle_sample_points(roads: pd.DataFrame, spacing: int = 50) -> pd.DataFrame:
    """modules/osmnx_road_network.py:51-78 — iterate roads in dataframe
    order, point every ``spacing`` m over range(0, int(length), N),
    dedup exact coords keep-first, positional id after reset."""
    rows = []
    for r in roads.itertuples(index=False):
        coords = parse_wkt_coords(r.geometry_wkt)
        d = np.diff(coords, axis=0)
        length = float(np.sqrt((d**2).sum(axis=1)).sum())
        offs = list(range(0, int(length), spacing))
        if not offs:
            continue
        pts = interpolate_along(coords, np.array(offs, dtype=np.float64))
        for o, (px, py) in zip(offs, pts):
            rows.append({"road_id": r.road_id, "offset_m": o, "x": px, "y": py})
    df = pd.DataFrame(rows)
    df = df.drop_duplicates(subset=["x", "y"], keep="first").reset_index(drop=True)
    df["point_id"] = df.index.astype("int64")
    return df


def oracle_knn_snap(
    points: pd.DataFrame, pages: pd.DataFrame, max_distance: float = 50.0
) -> pd.DataFrame:
    """modules/osmnx_road_network.py:131-154 — brute-force k=1 within
    distance_upper_bound=max_distance/2 in projected meters; miss =>
    page_url '' (empty, not null), distance None, is_panoramic
    None->False."""
    bound = max_distance / 2.0
    px = points["x"].to_numpy()
    py = points["y"].to_numpy()
    qx = pages["x"].to_numpy()
    qy = pages["y"].to_numpy()
    urls = pages["url"].to_numpy()
    pano = pages["is_panoramic"].to_numpy()
    out_url = []
    out_dist = []
    out_pano = []
    for i in range(len(px)):
        d2 = (qx - px[i]) ** 2 + (qy - py[i]) ** 2
        if len(d2) == 0:
            out_url.append("")
            out_dist.append(None)
            out_pano.append(False)
            continue
        # ties broken by (distance, url) total order like the engine;
        # cKDTree ties are index-order — fixtures have no exact ties.
        j = int(np.lexsort((urls, np.sqrt(d2)))[0])
        dist = float(np.sqrt(d2[j]))
        # strict <, like cKDTree's open distance_upper_bound
        if dist < bound:
            out_url.append(urls[j])
            out_dist.append(dist)
            out_pano.append(bool(pano[j]))
        else:
            out_url.append("")
            out_dist.append(None)
            out_pano.append(False)  # astype(bool): None -> False
    res = points.copy()
    res["page_url"] = out_url
    res["snap_distance"] = out_dist
    res["is_panoramic"] = out_pano
    return res


def oracle_fingerprint(text: str, window: int = 8) -> int:
    """Independent pure-Python rolling-hash fingerprint oracle for
    operators/textops._fingerprint_kernel: FNV-1a 64 per token, then the
    minimum Rabin-Karp hash (base 1000003, mod 2^64) over all
    ``window``-token runs; documents shorter than the window hash their
    full token run. Result reinterpreted as int64."""
    toks = text.split(" ") if text else []
    M = 1 << 64
    B = 1000003

    def fnv64(s: str) -> int:
        h = 0xCBF29CE484222325
        for byte in s.encode("utf-8"):
            h = ((h ^ byte) * 0x100000001B3) % M
        return h

    hs = [fnv64(t) for t in toks]
    if not hs:
        return 0
    if len(hs) < window:
        acc = 0
        for h in hs:
            acc = (acc * B + h) % M
        v = acc
    else:
        best = None
        for i in range(len(hs) - window + 1):
            acc = 0
            for h in hs[i : i + window]:
                acc = (acc * B + h) % M
            if best is None or acc < best:
                best = acc
        v = best
    return v - M if v >= (1 << 63) else v


# ---------------------------------------------------------------- GVI scorer
# Independent scalar port of the reference scorer over the engine's
# token-label payload analog. Shares NO code with
# streetview_naturevisibility_spark/functions/labels.py — every step is
# a separate pure-Python restatement of the cited reference lines, used
# to materialize the gvi_score_docs golden oracle table and in pytest.

N_CLASSES = 19
_ROAD = 0
_VEG = 8
_GRID_H = 16


def fnv1a32_one(token: str) -> int:
    """FNV-1a 32-bit, scalar byte loop (engine twin is a vectorized
    masked column sweep — different code, same published function)."""
    h = 2166136261
    for byte in token.encode("utf-8"):
        h = ((h ^ byte) * 16777619) & 0xFFFFFFFF
    return h


def oracle_token_labels(text: str) -> list:
    """functions/text.token_labels semantics: label = fnv1a32(tok) % 19
    over space-split tokens; empty text -> no tokens."""
    toks = text.split(" ") if text else []
    return [fnv1a32_one(t) % N_CLASSES for t in toks]


def _oracle_local_maxima(x: list) -> list:
    """scipy _local_maxima_1d as published: strict maxima, plateau
    midpoint (left+right)//2, boundaries never peaks."""
    peaks = []
    i, last = 1, len(x) - 1
    while i < last:
        if x[i - 1] < x[i]:
            ahead = i + 1
            while ahead < last and x[ahead] == x[i]:
                ahead += 1
            if x[ahead] < x[i]:
                peaks.append((i + (ahead - 1)) // 2)
                i = ahead
            else:
                i = ahead
        else:
            i += 1
    return peaks


def _oracle_prune_distance(peaks: list, priority: list, distance: float) -> list:
    """scipy _select_by_peak_distance: highest-priority-first sweep.
    np.argsort is called exactly as scipy does, so equal-priority ties
    resolve in the same (introsort) order as the reference/engine."""
    n = len(peaks)
    keep = [True] * n
    order = np.argsort(np.asarray(priority, dtype=np.float64)).tolist()
    d = int(np.ceil(distance))
    for idx in reversed(order):
        if not keep[idx]:
            continue
        k = idx - 1
        while k >= 0 and peaks[idx] - peaks[k] < d:
            keep[k] = False
            k -= 1
        k = idx + 1
        while k < n and peaks[k] - peaks[idx] < d:
            keep[k] = False
            k += 1
    return [p for p, kp in zip(peaks, keep) if kp]


def _oracle_prominence(x: list, peak: int) -> float:
    left_min = x[peak]
    i = peak
    while i > 0 and x[i - 1] <= x[peak]:
        i -= 1
        left_min = min(left_min, x[i])
    right_min = x[peak]
    i = peak
    while i < len(x) - 1 and x[i + 1] <= x[peak]:
        i += 1
        right_min = min(right_min, x[i])
    return x[peak] - max(left_min, right_min)


def _oracle_road_runs(grid: list) -> list:
    """modules/process_data.py:91-100: per column, the longest vertical
    run of road pixels (scalar walk; engine uses RLE)."""
    h = len(grid)
    w = len(grid[0]) if h else 0
    runs = []
    for c in range(w):
        best = run = 0
        for r in range(h):
            if grid[r][c] == _ROAD:
                run += 1
                best = max(best, run)
            else:
                run = 0
        runs.append(float(best))
    return runs


def oracle_gvi_score(text: str, is_panoramic: bool) -> tuple:
    """modules/process_data.py:221-300 flag semantics over the label
    grid, cut_by_road_centres=False: -> (gvi, is_panoramic, missing,
    error) with the engine's None->False pano coercion applied."""
    try:
        labels = oracle_token_labels(text)
        w = len(labels) // _GRID_H
        if w == 0:
            raise ValueError("page too short to form a label grid")
        grid = [labels[r * w : (r + 1) * w] for r in range(_GRID_H)]
        if is_panoramic:
            # bottom 20% crop (process_data.py:244-247): 16 -> 13 rows
            grid = grid[: _GRID_H - int(_GRID_H * 0.2)]
            # crop_panoramic_images (process_data.py:198-218)
            h = len(grid)
            w4 = int(w / 4)
            h4 = int(h / 4)
            h43 = int(w4 * 3 / 4)
            total = veg = 0
            for k in range(4):
                for r in range(h4, h4 + h43):
                    seg = grid[r][k * w4 : (k + 1) * w4]
                    total += len(seg)
                    veg += sum(1 for v in seg if v == _VEG)
            return ((veg / total if total else 0.0), True, False, False)
        # non-panoramic: suitability = a road centre exists
        # (find_road_centre, process_data.py:112-120)
        runs = _oracle_road_runs(grid)
        distance = int(2000 * w // 5760)
        if distance < 1:
            raise ValueError("`distance` must be greater or equal to 1")
        peaks = _oracle_local_maxima(runs)
        peaks = _oracle_prune_distance(peaks, [runs[p] for p in peaks], distance)
        prom_min = int(100 * _GRID_H // 2880)
        peaks = [p for p in peaks if _oracle_prominence(runs, p) >= prom_min]
        if peaks:
            total = _GRID_H * w
            veg = sum(1 for row in grid for v in row if v == _VEG)
            return (veg / total if total else 0.0, False, False, False)
        return (None, False, True, False)
    except Exception:
        return (None, False, True, True)


# ------------------------------------------------------------- isochrone
def oracle_isochrone_cells(pois, nodes, edges, buffer_dist, edge_buff, grid):
    """Scalar re-implementation: plain-dict Dijkstra, per-cell scalar
    point-segment distance, deque flood fill. Returns {poi_id: set}."""
    xy = {n: (x, y) for n, x, y in nodes}

    def seg_dist(px, py, a, b):
        ax, ay = a
        bx, by = b
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        t = 0.0 if L2 == 0 else max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2))
        cx, cy = ax + t * dx, ay + t * dy
        return ((px - cx) ** 2 + (py - cy) ** 2) ** 0.5

    out = {}
    for poi_id, px, py in pois:
        center = min(xy, key=lambda n: (xy[n][0] - px) ** 2 + (xy[n][1] - py) ** 2)
        # dijkstra
        dist = {center: 0.0}
        todo = {center}
        while todo:
            u = min(todo, key=lambda n: dist[n])
            todo.remove(u)
            for a, b in edges:
                for s, t in ((a, b), (b, a)):
                    if s != u:
                        continue
                    w = ((xy[s][0] - xy[t][0]) ** 2 + (xy[s][1] - xy[t][1]) ** 2) ** 0.5
                    nd = dist[u] + w
                    if nd <= buffer_dist and nd < dist.get(t, float("inf")):
                        dist[t] = nd
                        todo.add(t)
        segs = [(a, b) for a, b in edges if a in dist and b in dist]
        if not segs:
            out[poi_id] = set()
            continue
        all_x = [xy[n][0] for e in segs for n in e]
        all_y = [xy[n][1] for e in segs for n in e]
        gx0 = int(np.floor((min(all_x) - edge_buff) / grid))
        gy0 = int(np.floor((min(all_y) - edge_buff) / grid))
        gx1 = int(np.ceil((max(all_x) + edge_buff) / grid))
        gy1 = int(np.ceil((max(all_y) + edge_buff) / grid))
        cells = set()
        for gx in range(gx0, gx1 + 1):
            for gy in range(gy0, gy1 + 1):
                cx, cy = (gx + 0.5) * grid, (gy + 0.5) * grid
                if any(seg_dist(cx, cy, xy[a], xy[b]) <= edge_buff for a, b in segs):
                    cells.add((gx, gy))
        # exterior fill via BFS from outside the frame
        outside = set()
        frame = [(gx, gy) for gx in range(gx0 - 1, gx1 + 2) for gy in (gy0 - 1, gy1 + 1)]
        frame += [(gx, gy) for gy in range(gy0 - 1, gy1 + 2) for gx in (gx0 - 1, gx1 + 1)]
        dq = deque(frame)
        outside.update(frame)
        while dq:
            gx, gy = dq.popleft()
            for nx, ny in ((gx + 1, gy), (gx - 1, gy), (gx, gy + 1), (gx, gy - 1)):
                if not (gx0 - 1 <= nx <= gx1 + 1 and gy0 - 1 <= ny <= gy1 + 1):
                    continue
                if (nx, ny) in outside or (nx, ny) in cells:
                    continue
                outside.add((nx, ny))
                dq.append((nx, ny))
        filled = {
            (gx, gy)
            for gx in range(gx0, gx1 + 1)
            for gy in range(gy0, gy1 + 1)
            if (gx, gy) not in outside
        }
        out[poi_id] = filled
    return out


# ------------------------------------------------------------------
# DuckDB SQL twins for the two plain-SQL-expressible curation ops that
# have no driver contract slot (the driver caps the contract at 50
# rows): the SQL twin lives HERE and is exercised by pytest instead.
# Both compare SEMANTICS (shingle strings / regex hits), not the
# engine's internal xxhash64 representation.
# ------------------------------------------------------------------
def duckdb_decontaminate(
    docs: pd.DataFrame, blocklist: pd.DataFrame, n: int = 13
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.decontaminate: drop every doc
    sharing ANY token n-gram with the blocklist. Shingle semantics
    mirror dedup.shingles_col exactly: tokens = split on single space,
    window clamp ``greatest(len - n + 1, 1)`` (a doc shorter than n
    tokens contributes its whole text as one shingle), distinct
    shingles, NULL text -> no shingles -> kept."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    con.register("blocklist", blocklist)
    w = n - 1
    shingles = (
        "unnest(list_distinct([array_to_string(t[i:i+{w}], ' ') "
        "FOR i IN generate_series(1, greatest(len(t)-{w}, 1))])) AS sh"
    ).format(w=w)
    out = con.sql(
        f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs),
        b AS (SELECT string_split(text, ' ') AS t FROM blocklist),
        dsh AS (SELECT doc_id, {shingles} FROM d),
        bsh AS (SELECT DISTINCT {shingles} FROM b),
        bad AS (SELECT DISTINCT doc_id FROM dsh JOIN bsh USING (sh))
        SELECT * FROM docs
        WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        ORDER BY doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_repetition_signals(docs: pd.DataFrame, top_ns=(2, 3, 4)) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.repetition_signals (Gopher
    repetition axes). Lines split on chr(10), tokens on single space,
    n-grams by 1-based inclusive list slicing — each formula restated
    independently in DuckDB list/lambda SQL."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    ns = ", ".join(str(n) for n in top_ns)
    covs = ", ".join(
        f"max(CASE WHEN n = {n} THEN cnt * strlen(g) END) AS cov{n}"
        for n in top_ns
    )
    outs = ", ".join(
        f"CASE WHEN lf.n_chars > 0 THEN coalesce(cov.cov{n}, 0) / CAST(lf.n_chars AS DOUBLE) "
        f"ELSE 0.0 END AS top{n}gram_char_frac"
        for n in top_ns
    )
    out = con.sql(
        f"""
        WITH d AS (
          SELECT doc_id, strlen(text) AS n_chars,
                 string_split(text, chr(10)) AS lines,
                 string_split(text, ' ') AS t
          FROM docs),
        lf AS (
          SELECT doc_id, n_chars, len(lines) AS n_lines,
            (len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE)
              AS dup_line_frac,
            list_sum(list_transform(lines, x -> strlen(x))) AS line_chars,
            list_sum(list_transform(list_distinct(lines),
              l -> (len(list_filter(lines, x -> x = l)) - 1) * strlen(l)))
              AS dup_chars
          FROM d),
        g AS (
          SELECT doc_id, n, array_to_string(t[i:i+n-1], ' ') AS g
          FROM d, UNNEST([{ns}]) AS nn(n),
               UNNEST(generate_series(1, len(t) - n + 1)) AS ii(i)),
        cnts AS (
          SELECT doc_id, n, g, count(*) AS cnt FROM g
          GROUP BY doc_id, n, g HAVING count(*) >= 2),
        cov AS (SELECT doc_id, {covs} FROM cnts GROUP BY doc_id)
        SELECT lf.doc_id, lf.n_lines, lf.dup_line_frac,
          CASE WHEN lf.line_chars > 0
               THEN lf.dup_chars / CAST(lf.line_chars AS DOUBLE)
               ELSE 0.0 END AS dup_line_char_frac,
          {outs}
        FROM lf LEFT JOIN cov ON lf.doc_id = cov.doc_id
        ORDER BY lf.doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_paragraph_dedup(
    docs: pd.DataFrame, sep: str = "\n\n", max_docs: int = 1, min_chars: int = 0
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.paragraph_dedup: paragraphs
    grouped by their STRING (the engine groups/joins on md5(para) —
    identical semantics absent a 128-bit collision), removal when
    present in more than ``max_docs`` distinct docs, order-preserving
    string_agg rebuild."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    sq = sep.replace("\n", "' || chr(10) || '")
    sep_sql = f"('{sq}')"
    out = con.sql(
        f"""
        WITH p AS (
          SELECT doc_id, i AS pos, parts[i] AS para
          FROM (SELECT doc_id, string_split(text, {sep_sql}) AS parts FROM docs),
               UNNEST(generate_series(1, len(parts))) AS u(i)),
        common AS (
          SELECT para FROM p WHERE strlen(para) >= {min_chars}
          GROUP BY para HAVING count(DISTINCT doc_id) > {max_docs}),
        kept AS (SELECT * FROM p WHERE para NOT IN (SELECT para FROM common)),
        reb AS (
          SELECT doc_id, string_agg(para, {sep_sql} ORDER BY pos) AS text_deduped,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id)
        SELECT t.doc_id, coalesce(r.text_deduped, '') AS text_deduped,
               t.n_paras, t.n_paras - coalesce(r.n_kept, 0) AS n_removed
        FROM tot t LEFT JOIN reb r USING (doc_id) ORDER BY t.doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_contamination_overlap(
    docs: pd.DataFrame, blocklist: pd.DataFrame, n: int = 13
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.contamination_overlap: per-doc
    distinct-shingle totals + blocklist hit counts + overlap fraction,
    0-rows for unshingleable (NULL-text) docs like the engine's
    explode_outer. Shingle semantics mirror duckdb_decontaminate."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    con.register("blocklist", blocklist)
    w = n - 1
    shingles = (
        "unnest(list_distinct([array_to_string(t[i:i+{w}], ' ') "
        "FOR i IN generate_series(1, greatest(len(t)-{w}, 1))])) AS sh"
    ).format(w=w)
    out = con.sql(
        f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs),
        b AS (SELECT string_split(text, ' ') AS t FROM blocklist),
        dsh AS (SELECT doc_id, {shingles} FROM d),
        bsh AS (SELECT DISTINCT {shingles} FROM b),
        j AS (
          SELECT dsh.doc_id, dsh.sh,
                 CASE WHEN bsh.sh IS NOT NULL THEN 1 END AS hit
          FROM dsh LEFT JOIN bsh USING (sh)),
        a AS (
          SELECT doc_id, count(sh) AS n_shingles,
                 coalesce(sum(hit), 0) AS n_hit
          FROM j GROUP BY doc_id)
        SELECT docs.doc_id,
               coalesce(a.n_shingles, 0) AS n_shingles,
               coalesce(a.n_hit, 0) AS n_hit,
               CASE WHEN coalesce(a.n_shingles, 0) > 0
                    THEN a.n_hit / CAST(a.n_shingles AS DOUBLE)
                    ELSE 0.0 END AS overlap_frac
        FROM docs LEFT JOIN a USING (doc_id) ORDER BY docs.doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_token_budget_select(
    docs: pd.DataFrame, budgets: dict[str, int], default_budget: int = 0
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/corpus.token_budget_select (window
    semantics — the bucketed method must equal this too): per stratum,
    order by (quality DESC NULLS LAST, doc_id), keep while the
    inclusive running token sum fits the stratum budget."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    # CASE needs at least one WHEN: with no listed strata every stratum
    # gets the default
    budget = str(int(default_budget))
    if budgets:
        cases = " ".join(
            f"WHEN '{k}' THEN {int(v)}" for k, v in sorted(budgets.items())
        )
        budget = f"CASE lang {cases} ELSE {budget} END"
    out = con.sql(
        f"""
        WITH t AS (
          SELECT *, coalesce(len(string_split(text, ' ')), 0) AS n_tokens
          FROM docs),
        c AS (
          SELECT *, SUM(n_tokens) OVER (
            PARTITION BY lang
            ORDER BY quality_score DESC NULLS LAST, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t)
        SELECT * EXCLUDE (cum) FROM c
        WHERE cum <= ({budget})
        ORDER BY doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_chunk_dedup(docs: pd.DataFrame, chunk_chars: int = 100) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.chunk_dedup: non-overlapping
    L-char windows from the text start, md5-grouped; every instance of
    a >1-occurrence chunk except the packed-min (doc_id, pos) canonical
    is cut; the trailing chars always survive."""
    import duckdb

    L = int(chunk_chars)
    con = duckdb.connect()
    con.register("docs", docs)
    out = con.sql(
        f"""
        WITH d AS (
          SELECT doc_id, text,
                 greatest(strlen(text) // {L}, 0) AS nf FROM docs),
        ch AS (
          SELECT doc_id, i AS pos,
                 substring(text, CAST(i * {L} + 1 AS INT), {L}) AS chunk,
                 md5(substring(text, CAST(i * {L} + 1 AS INT), {L})) AS ck
          FROM d, UNNEST(generate_series(0, CAST(nf AS BIGINT) - 1)) AS t(i)),
        dup AS (
          SELECT ck, min(doc_id * 2147483648 + pos) AS canon
          FROM ch GROUP BY ck HAVING count(*) > 1),
        kill AS (
          SELECT doc_id, pos FROM ch JOIN dup USING (ck)
          WHERE doc_id * 2147483648 + pos != canon),
        kept AS (
          SELECT ch.doc_id,
                 string_agg(chunk, '' ORDER BY ch.pos) AS body,
                 count(*) AS n_kept
          FROM ch LEFT JOIN kill
            ON ch.doc_id = kill.doc_id AND ch.pos = kill.pos
          WHERE kill.pos IS NULL
          GROUP BY ch.doc_id)
        SELECT d.doc_id,
               coalesce(kept.body, '') ||
                 substring(d.text, CAST(d.nf * {L} + 1 AS INT)) AS text_deduped,
               coalesce(d.nf, 0) AS n_chunks,
               coalesce(d.nf, 0) - coalesce(kept.n_kept, 0) AS n_removed
        FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id
        ORDER BY d.doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_chunk_dedup_cdc(
    docs: pd.DataFrame, avg_tokens: int = 8, min_tokens: int = 4
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.chunk_dedup_cdc: content-
    defined token chunks (boundary after every token whose md5-prefix
    hash % avg_tokens == 0), eligible chunks (>= min_tokens tokens)
    md5-grouped, packed-min canonical survives, space-joined rebuild."""
    import duckdb

    D = int(avg_tokens)
    MINT = int(min_tokens)
    con = duckdb.connect()
    con.register("docs", docs)
    s_j = "(CASE WHEN j = 1 THEN 1 ELSE cuts[j-1] + 1 END)"
    e_j = "(CASE WHEN j = len(cuts) + 1 THEN len(t) ELSE cuts[j] END)"
    out = con.sql(
        f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs
                   WHERE text IS NOT NULL),
        b AS (SELECT doc_id, t,
                [i FOR i IN generate_series(1, len(t))
                   IF CAST('0x' || substring(md5(t[i]), 1, 15) AS BIGINT)
                      % {D} = 0] AS cuts
              FROM d),
        cl AS (SELECT doc_id,
                 list_filter(
                   list_transform(generate_series(1, len(cuts) + 1),
                     j -> CASE WHEN {e_j} >= {s_j}
                          THEN array_to_string(t[{s_j}:{e_j}], ' ') END),
                   x -> x IS NOT NULL) AS chunks
               FROM b),
        ch AS (SELECT doc_id, i - 1 AS pos, chunks[i] AS chunk,
                      md5(chunks[i]) AS ck,
                      len(string_split(chunks[i], ' ')) >= {MINT} AS elig
               FROM cl, UNNEST(generate_series(1, len(chunks))) AS u(i)),
        dup AS (SELECT ck, min(doc_id * 2147483648 + pos) AS canon
                FROM ch WHERE elig GROUP BY ck HAVING count(*) > 1),
        kill AS (SELECT doc_id, pos FROM ch JOIN dup USING (ck)
                 WHERE elig AND doc_id * 2147483648 + pos != canon),
        kept AS (SELECT ch.doc_id,
                        string_agg(chunk, ' ' ORDER BY ch.pos) AS body,
                        count(*) AS n_kept
                 FROM ch LEFT JOIN kill
                   ON ch.doc_id = kill.doc_id AND ch.pos = kill.pos
                 WHERE kill.pos IS NULL GROUP BY ch.doc_id),
        tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
        SELECT d0.doc_id,
               CASE WHEN d0.text IS NULL THEN NULL
                    ELSE coalesce(kept.body, '') END AS text_deduped,
               coalesce(tot.n_chunks, 0) AS n_chunks,
               coalesce(tot.n_chunks, 0) - coalesce(kept.n_kept, 0) AS n_removed
        FROM docs d0
        LEFT JOIN kept ON d0.doc_id = kept.doc_id
        LEFT JOIN tot ON d0.doc_id = tot.doc_id
        ORDER BY d0.doc_id
        """
    ).df()
    con.close()
    return out


_URL_TRACK_RE = "^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)="
_URL_2LBL = (
    "co.uk", "org.uk", "gov.uk", "ac.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.nz", "co.za",
)


def duckdb_url_norm_and_domain(pages: pd.DataFrame) -> pd.DataFrame:
    """ANSI-SQL twin of functions/url.normalize_url_col +
    registrable_domain_col (same pinned suffix list and tracking-param
    regex, restated in DuckDB list/lambda SQL)."""
    import duckdb

    con = duckdb.connect()
    con.register("pages", pages)
    sfx = ", ".join(f"'{s}'" for s in _URL_2LBL)
    out = con.sql(
        f"""
        WITH t AS (
          SELECT doc_id, url,
            lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
            lower(string_split(string_split(
              regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
              '@')[-1], ':')[1]) AS host,
            regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path0,
            regexp_extract(url, '\\?([^#]*)', 1) AS query
          FROM pages),
        n AS (
          SELECT doc_id, url, scheme, host,
            CASE WHEN strlen(path0) > 1 AND path0 LIKE '%/'
                 THEN substring(path0, 1, strlen(path0) - 1)
                 ELSE path0 END AS path,
            array_to_string(list_sort(list_filter(string_split(query, '&'),
              p -> strlen(p) > 0 AND NOT regexp_matches(p, '{_URL_TRACK_RE}')
            )), '&') AS qnorm
          FROM t),
        d AS (
          SELECT doc_id, host, string_split(host, '.') AS parts FROM n),
        d2 AS (
          SELECT doc_id, host, parts, len(parts) AS np,
            array_to_string(list_slice(parts, greatest(len(parts)-1, 1), len(parts)), '.') AS last2
          FROM d),
        dom AS (
          SELECT doc_id,
            CASE WHEN host IS NULL OR host = '' THEN NULL
                 WHEN np <= (CASE WHEN last2 IN ({sfx}) AND np >= 3 THEN 3 ELSE 2 END)
                   THEN host
                 ELSE array_to_string(list_slice(parts,
                   np - (CASE WHEN last2 IN ({sfx}) AND np >= 3 THEN 3 ELSE 2 END) + 1, np), '.')
            END AS domain
          FROM d2)
        SELECT n.doc_id,
          CASE WHEN n.url IS NULL OR n.host = '' THEN NULL
               ELSE n.scheme || '://' || n.host || n.path ||
                 (CASE WHEN strlen(n.qnorm) > 0 THEN '?' || n.qnorm ELSE '' END)
          END AS url_norm,
          dom.domain
        FROM n JOIN dom USING (doc_id)
        ORDER BY n.doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_dsir_score(
    docs: pd.DataFrame,
    target: pd.DataFrame,
    n_buckets: int = 10_000,
    k: float = 1.0,
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.dsir_score (raw = docs):
    hashed unigram+bigram buckets via the engine's portable md5-prefix
    hash, add-k smoothed log-ratio of target vs raw bucket
    distributions, per-doc instance sum. Weight compared with a float
    tolerance by callers (the per-doc sum's FP order is not fixed in
    either engine)."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    con.register("target", target)
    B = int(n_buckets)
    bucket = (
        "CAST('0x' || substring(md5({g}), 1, 15) AS BIGINT) % " + str(B)
    )
    bi_gram = "t[i] || ' ' || t[i+1]"
    feats = (
        "list_concat("
        f"  list_transform(t, w -> {bucket.format(g='w')}),"
        f"  [{bucket.format(g=bi_gram)}"
        "    FOR i IN generate_series(1, len(t) - 1)])"
    )
    out = con.sql(
        f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs
                   WHERE text IS NOT NULL),
        tg AS (SELECT string_split(text, ' ') AS t FROM target
               WHERE text IS NOT NULL),
        dfeat AS (SELECT doc_id, unnest({feats}) AS b FROM d),
        tfeat AS (SELECT unnest({feats}) AS b FROM tg),
        ct AS (SELECT b, count(*) AS c FROM tfeat GROUP BY b),
        cr AS (SELECT b, count(*) AS c FROM dfeat GROUP BY b),
        tt AS (SELECT coalesce(sum(c), 0) AS T FROM ct),
        tr AS (SELECT coalesce(sum(c), 0) AS T FROM cr)
        SELECT doc_id,
               round(sum(
                   ln((coalesce(ct.c, 0) + {k}) / (tt.T + {k} * {B}))
                 - ln((coalesce(cr.c, 0) + {k}) / (tr.T + {k} * {B}))
               ), 6) AS dsir_logweight,
               count(*) AS n_feats
        FROM dfeat
        LEFT JOIN ct USING (b)
        LEFT JOIN cr USING (b)
        CROSS JOIN tt CROSS JOIN tr
        GROUP BY doc_id
        ORDER BY doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_semantic_dedup(
    emb: pd.DataFrame,
    threshold: float = 0.92,
    n_lists: int = 8,
    dim: int = 64,
    seed: int = 21,
    keep: str = "closest",
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/similarity.semantic_dedup (no
    cluster cap): pinned-centroid assignment restated as literal
    list-lambda arithmetic (the _ivf_oracle_sql pattern — same
    sequential-fold FP order as the engine's F.aggregate), centroid
    cosine via the engine's literal query-norm, within-cluster
    dominance pairs in plain SQL."""
    import duckdb

    from streetview_naturevisibility_spark.operators.similarity import (
        pinned_centroids,
    )

    cents = pinned_centroids(n_lists, dim, seed)
    lit = lambda c: "[" + ", ".join(repr(float(v)) for v in c) + "]"  # noqa: E731

    def sqd(vec, c):
        return (
            f"list_sum(list_transform(list_zip({vec}, {lit(c)}),"
            " p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
        )

    def norm(vec):
        return (
            f"sqrt(list_sum(list_transform({vec},"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )

    def ccos(vec, c):
        nq = repr(float(np.sqrt(np.sum(np.asarray(c, dtype=np.float64) ** 2))))
        return (
            f"list_sum(list_transform(list_zip({vec}, {lit(c)}),"
            f" p -> CAST(p[1] AS DOUBLE) * p[2])) / ({norm(vec)} * {nq})"
        )

    dl = "[" + ",\n      ".join(sqd("embedding", c) for c in cents) + "]"
    ca = "[" + ",\n      ".join(ccos("embedding", c) for c in cents) + "]"
    paircos = (
        "list_sum(list_transform(list_zip(a.v, b.v),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        f" / ({norm('a.v')} * {norm('b.v')})"
    )
    better = "b.ccos < a.ccos" if keep == "farthest" else "b.ccos > a.ccos"
    con = duckdb.connect()
    con.register("emb", emb)
    out = con.sql(
        f"""
        WITH s0 AS (SELECT vec_id AS id, embedding AS v,
                           {dl} AS dl, {ca} AS ca
                    FROM emb),
        s AS (SELECT id, v,
                     list_position(dl, list_min(dl)) - 1 AS list_id,
                     ca[list_position(dl, list_min(dl))] AS ccos
              FROM s0),
        dom AS (SELECT DISTINCT a.id
                FROM s a JOIN s b
                  ON a.list_id = b.list_id AND a.id <> b.id
                WHERE {paircos} >= {threshold}
                  AND ({better} OR (b.ccos = a.ccos AND b.id < a.id)))
        SELECT id AS vec_id, CAST(list_id AS INT) AS list_id,
               round(ccos, 6) AS centroid_cos,
               id NOT IN (SELECT id FROM dom) AS kept
        FROM s ORDER BY vec_id
        """
    ).df()
    con.close()
    return out


def duckdb_score_quality(
    docs: pd.DataFrame, weights, bias: float, n_buckets: int
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.score_quality_classifier:
    same md5-prefix bucket hash, length-normalized weight sum + bias,
    sigmoid. Probability compared with a float tolerance by callers
    (per-doc sum order is unfixed in both engines)."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    wdf = pd.DataFrame(
        {"b": range(len(weights)), "w": [float(v) for v in weights]}
    )
    wdf = wdf[wdf["w"] != 0.0]
    con.register("wt", wdf)
    B = int(n_buckets)
    bucket = "CAST('0x' || substring(md5({g}), 1, 15) AS BIGINT) % " + str(B)
    bi_gram = "t[i] || ' ' || t[i+1]"
    feats = (
        "list_concat("
        f"  list_transform(t, w -> {bucket.format(g='w')}),"
        f"  [{bucket.format(g=bi_gram)}"
        "    FOR i IN generate_series(1, len(t) - 1)])"
    )
    out = con.sql(
        f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs
                   WHERE text IS NOT NULL),
        f0 AS (SELECT doc_id, {feats} AS fb FROM d),
        df AS (SELECT doc_id, unnest(fb) AS b, 1.0 / len(fb) AS inv_n
               FROM f0)
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(sum(coalesce(wt.w, 0.0) * inv_n)
                                        + {float(bias)!r}))), 6) AS clf_prob
        FROM df LEFT JOIN wt USING (b)
        GROUP BY doc_id ORDER BY doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_fix_text(
    docs: pd.DataFrame, table, spaces: str, passes: int = 1
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.fix_text: same pinned
    mojibake table (passed in so the twin can never drift), exotic
    spaces -> ' ', C0/C1 control strip, stray marker removal;
    ``passes`` unrolls the chain like the engine."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    expr = "text"
    for _ in range(int(passes)):
        for bad, good in table:
            b = bad.replace("'", "''")
            g = good.replace("'", "''")
            expr = f"replace({expr}, '{b}', '{g}')"
        plain = "'" + " " * len(spaces) + "'"
        expr = f"translate({expr}, '{spaces}', {plain})"
        expr = (
            f"regexp_replace({expr}, "
            "'[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]', '', 'g')"
        )
        # RE2: no lookahead — same consuming group + \1 as the engine
        expr = (
            f"regexp_replace({expr}, "
            "'Â([\\s\\x{00A0}-\\x{00BF}[:punct:]])', '\\1', 'g')"
        )
    out = con.sql(
        f"""
        SELECT doc_id, {expr} AS text_fixed,
               {expr} IS DISTINCT FROM text AS changed
        FROM docs ORDER BY doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_pack_assignments(
    docs: pd.DataFrame, budget_tokens: int
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/corpus.pack_assignments: ONE global
    exclusive-prefix window (the engine's bucketed two-phase must
    recompose to exactly this)."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    out = con.sql(
        f"""
        WITH t AS (SELECT doc_id,
                          coalesce(len(string_split(text, ' ')), 0) AS n_tokens
                   FROM docs),
        c AS (SELECT doc_id, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS before
              FROM t)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(floor(before / {int(budget_tokens)}) AS BIGINT) AS bin_id
        FROM c ORDER BY doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_c4_clean(
    docs: pd.DataFrame,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    badwords=None,
) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.c4_clean (Raffel et al. 2020
    §2.2 heuristics), restated in DuckDB list/lambda SQL: line keep =
    terminal punctuation AND >= min words AND no 'javascript'; page
    keep = no 'lorem ipsum', no curly bracket, >= min_sentences
    [.!?]-runs in the CLEANED text (and no badword when given)."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs)
    bad = ""
    if badwords:
        import re as _re

        alt = "|".join(_re.escape(w) for w in sorted(badwords))
        bad = (
            " AND NOT regexp_matches(raw, '(?i)(^|[^0-9A-Za-z_])"
            f"({alt})($|[^0-9A-Za-z_])')"
        )
    out = con.sql(
        f"""
        WITH d AS (
          SELECT doc_id, coalesce(text, '') AS raw,
                 list_transform(string_split(coalesce(text, ''), chr(10)),
                                l -> trim(l)) AS lines
          FROM docs),
        k AS (
          SELECT doc_id, raw, lines,
            list_filter(lines, l ->
              regexp_matches(l, '[.!?"”]$')
              AND len(list_filter(string_split_regex(trim(l), '\\s+'),
                                  x -> x <> '')) >= {int(min_words_per_line)}
              AND NOT contains(lower(l), 'javascript')) AS kept
          FROM d),
        c AS (
          SELECT doc_id, raw, lines, kept,
                 -- array_to_string([]) is NULL in DuckDB; Spark's
                 -- concat_ws over an empty array is '' — align
                 coalesce(array_to_string(kept, chr(10)), '') AS text_clean
          FROM k)
        SELECT doc_id, text_clean,
          len(lines) AS n_lines, len(kept) AS n_lines_kept,
          len(regexp_extract_all(text_clean, '[.!?]+')) AS n_sentences,
          (NOT contains(lower(raw), 'lorem ipsum')
           AND NOT contains(raw, '{{') AND NOT contains(raw, '}}')
           AND len(regexp_extract_all(text_clean, '[.!?]+'))
               >= {int(min_sentences)}{bad}) AS keep
        FROM c ORDER BY doc_id
        """
    ).df()
    con.close()
    return out


def duckdb_span_dedup_c4(docs: pd.DataFrame, n_sents: int = 3) -> pd.DataFrame:
    """ANSI-SQL twin of operators/textops.span_dedup_c4 (C4 §2.2
    three-sentence-span dedup): sentence boundary = terminal-punct run
    + whitespace (capture+backreference marker, same RE2-safe regex),
    non-overlapping n-sentence grid spans, keep the global min packed
    (doc_id, pos) instance of every duplicated span, remainder
    protected, rebuild joined with single spaces."""
    import duckdb

    n = int(n_sents)
    con = duckdb.connect()
    con.register("docs", docs)
    out = con.sql(
        f"""
        WITH d AS (
          SELECT doc_id,
                 string_split(regexp_replace(text, '([.!?]+)\\s+',
                              '\\1' || chr(1), 'g'), chr(1)) AS sents
          FROM docs WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id, sents, len(sents) // {n} AS n_spans FROM d),
        sp AS (
          SELECT doc_id, i AS pos,
                 array_to_string(sents[i*{n}+1 : i*{n}+{n}], ' ') AS span
          FROM g, UNNEST(generate_series(0, n_spans - 1)) AS t(i)),
        dup AS (
          SELECT md5(span) AS sk,
                 min(doc_id * 2147483648 + pos) AS canon
          FROM sp GROUP BY 1 HAVING count(*) > 1),
        kills AS (
          SELECT sp.doc_id, sp.pos
          FROM sp JOIN dup ON md5(sp.span) = dup.sk
          WHERE sp.doc_id * 2147483648 + sp.pos != dup.canon),
        kept AS (
          SELECT sp.* FROM sp ANTI JOIN kills
          USING (doc_id, pos)),
        reb AS (
          SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS spans_text
          FROM kept GROUP BY doc_id),
        rem AS (
          SELECT doc_id, n_spans,
                 array_to_string(sents[n_spans*{n}+1 : len(sents)], ' ')
                   AS remainder
          FROM g),
        nk AS (
          SELECT doc_id, count(*) AS n_removed FROM kills GROUP BY doc_id)
        SELECT docs.doc_id,
          CASE WHEN docs.text IS NULL THEN NULL
               -- array_to_string([]) is NULL in DuckDB; Spark's
               -- concat_ws over an empty array is '' — align
               ELSE coalesce(array_to_string(list_filter(
                 [coalesce(reb.spans_text, ''), coalesce(rem.remainder, '')],
                 x -> x <> ''), ' '), '')
          END AS text_deduped,
          coalesce(rem.n_spans, 0) AS n_spans,
          coalesce(nk.n_removed, 0) AS n_removed
        FROM docs
        LEFT JOIN rem ON docs.doc_id = rem.doc_id
        LEFT JOIN reb ON docs.doc_id = reb.doc_id
        LEFT JOIN nk  ON docs.doc_id = nk.doc_id
        ORDER BY docs.doc_id
        """
    ).df()
    con.close()
    return out


def jvm_minhash_fold(base, k: int, hash_method: str):
    """Pure-JVM twin of operators/dedup.minhash_signatures_from_shingles:
    the same shingle hashes and k permutations, folded by ONE
    ``F.aggregate`` over the hash array instead of the Arrow kernel.
    NULL arrays give a NULL signature; empty arrays the 2^33 init
    sentinel row."""
    from pyspark.sql import functions as F

    from streetview_naturevisibility_spark.operators.dedup import (
        _MIX_MASK_V,
        _perm_params,
        shingle_hash,
    )

    if hash_method == "tokenmix":
        hs = F.col("sh")
    else:
        hs = F.transform(F.col("sh"), lambda s: shingle_hash(s, hash_method))
    perms = _perm_params(k)
    # sentinel above the modulus: any real (a*h+b) mod 2^32 beats it
    init = F.array(*[F.lit(1 << 33).cast("long") for _ in range(k)])

    def _merge(acc, h):
        cand = F.array(
            *[
                (h * F.lit(a) + F.lit(b)).bitwiseAND(F.lit(_MIX_MASK_V))
                for a, b in perms
            ]
        )
        return F.zip_with(acc, cand, lambda x, y: F.least(x, y))

    return base.select("id", F.aggregate(hs, init, _merge).alias("minhash"))
