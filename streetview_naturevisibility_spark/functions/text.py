"""Text-payload kernels.

The reference's per-row payload work is image download + Mask2Former
segmentation (modules/process_data.py:235-300). The engine's payload is
the web page: ``extract_text(html)`` must be byte-identical per url to
the pinned extractor (BASELINE.json input_hint), and the segmentation
label grid becomes a deterministic per-page token-label array
(SURVEY.md §1.1) scored by the same pixel-counting semantics.

The kernels are plain pandas/NumPy functions (unit tests + oracle);
``make_page_parser`` fuses them into the one pandas UDF that DataFrame
plans use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

N_CLASSES = 19  # Cityscapes label space; 0 = road, 8 = vegetation


def _html_string_array(html: pd.Series) -> "pa.Array":
    """binary Series -> Arrow string array (one C++ pass, no Python)."""
    import pyarrow as pa

    arr = pa.array(html, type=pa.large_binary())
    try:
        return arr.cast(pa.large_string())
    except pa.ArrowInvalid:
        # invalid utf-8 somewhere: slow path with replacement chars
        return pa.array(
            [None if b is None else b.decode("utf-8", "replace") for b in html],
            type=pa.large_string(),
        )


def extract_text_kernel(html: pd.Series) -> pd.Series:
    """html bytes -> text, byte-identical to the pinned template
    (fixtures/generate.page_html): the content of the first <p> element.
    Returns "" when the page has no <p> block (never null).

    Fully vectorized: Arrow RE2 ``extract_regex`` over the whole batch —
    zero per-row Python (the input_hint mandate, and ~10x the
    throughput of a Python loop)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(html) == 0:
        return pd.Series([], dtype=object)
    s = _html_string_array(html)
    ex = pc.extract_regex(s, r"<body><p>(?P<t>(?s:.*?))</p>")
    text = pc.struct_field(ex, "t")
    text = pc.fill_null(text, "")
    return text.to_pandas()


def parse_coords_kernel(html: pd.Series) -> pd.DataFrame:
    """html bytes -> (lon, lat) parsed from the geo span; NaN if absent.
    Vectorized Arrow RE2, same as extract_text_kernel."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(html) == 0:
        return pd.DataFrame({"lon": pd.Series([], dtype=float), "lat": pd.Series([], dtype=float)})
    s = _html_string_array(html)
    ex = pc.extract_regex(s, r"data-lat='(?P<lat>[^']*)' data-lon='(?P<lon>[^']*)'")

    def _num(field: str) -> pd.Series:
        raw = pc.struct_field(ex, field)
        return pd.to_numeric(raw.to_pandas(), errors="coerce")

    return pd.DataFrame({"lon": _num("lon"), "lat": _num("lat")})


def _token_byte_matrix(tokens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n_tokens, width) uint8 matrix (zero-padded) + exact per-token
    byte lengths. Liveness during the hash sweep is ``position <
    length``, NOT ``byte != 0`` — hostile web text can contain embedded
    NUL bytes, and those must hash identically to scalar byte-wise
    FNV-1a. NumPy's 'S' dtype strips TRAILING NULs, so the
    width is forced to cover the true max length; the stripped trailing
    positions read back as 0x00 — exactly the byte FNV must consume."""
    if len(tokens) == 0:
        return np.zeros((0, 1), dtype=np.uint8), np.zeros(0, dtype=np.int64)
    lengths = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=len(tokens))
    width = max(int(lengths.max()), 1)
    s = np.asarray(tokens, dtype=f"S{width}")
    mat = np.frombuffer(s.tobytes(), dtype=np.uint8).reshape(len(s), width)
    return mat, lengths


def fnv1a32(tokens: np.ndarray) -> np.ndarray:
    """FNV-1a 32-bit over an array of str tokens — the engine's stable
    string hash (never Python's hash()). Vectorized as a masked
    column sweep over the zero-padded token byte matrix: one vector op
    per byte position instead of one Python op per byte (~30x)."""
    mat, lengths = _token_byte_matrix(
        np.array([t.encode("utf-8") for t in tokens], dtype=object)
    )
    n = mat.shape[0]
    h = np.full(n, 2166136261, dtype=np.uint64)
    mask32 = np.uint64(0xFFFFFFFF)
    prime = np.uint64(16777619)
    with np.errstate(over="ignore"):
        for j in range(mat.shape[1]):
            col = mat[:, j].astype(np.uint64)
            live = j < lengths  # positional mask: embedded NULs hash too
            upd = ((h ^ col) * prime) & mask32
            h = np.where(live, upd, h)
    return h


def token_labels_kernel(text: pd.Series) -> pd.Series:
    """text -> int32 label array: label(token_j) = fnv1a32(token) % 19.

    The deterministic analog of the Mask2Former per-pixel class grid
    (reference: modules/segmentation_images.py / process_data.py:53-73):
    vegetation is class 8, road class 0, exactly as Cityscapes.
    Whole-batch vectorization: all tokens of the Arrow batch hash in
    one fnv1a32 call, then split back per document."""
    token_lists = [t.split(" ") if t else [] for t in text]
    lengths = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=len(token_lists))
    if lengths.sum() == 0:
        return pd.Series([[] for _ in token_lists])
    flat = np.concatenate([np.array(t, dtype=object) for t in token_lists if t])
    labels = (fnv1a32(flat) % N_CLASSES).astype(np.int32)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return pd.Series(
        [labels[bounds[i] : bounds[i + 1]].tolist() for i in range(len(token_lists))]
    )


_COMBINED_RE = (
    r"<body><p>(?P<t>(?s:.*?))</p>"
    r"<span class='geo' data-lat='(?P<glat>[^']*)' data-lon='(?P<glon>[^']*)'"
)


def parse_page_kernel(html: pd.Series, utm_zone: int, keep_text: bool) -> pd.DataFrame:
    """One combined RE2 pass extracts text+lat+lon together (pages that
    don't match the common shape fall back to the individual extracts);
    then one NumPy UTM projection. Total: a single scan of the batch's
    bytes for the common case."""
    import pyarrow.compute as pc

    from ..geo.utm import lonlat_to_utm

    n = len(html)
    out: dict = {}
    if n == 0:
        cols = (["text"] if keep_text else []) + ["lon", "lat", "x", "y"]
        return pd.DataFrame({c: pd.Series([], dtype=object if c == "text" else float) for c in cols})

    if not keep_text:
        # coords-only: the anchored geo-span regex needs no lazy body
        # scan — 2.8x faster than the combined pattern (measured)
        coords = parse_coords_kernel(html)
        lon = coords["lon"]
        lat = coords["lat"]
        text = None
        miss = pd.Series(False, index=html.index)
    else:
        s = _html_string_array(html)
        ex = pc.extract_regex(s, _COMBINED_RE)
        text = pc.struct_field(ex, "t").to_pandas()
        lat = pd.to_numeric(pc.struct_field(ex, "glat").to_pandas(), errors="coerce")
        lon = pd.to_numeric(pc.struct_field(ex, "glon").to_pandas(), errors="coerce")

        miss = text.isna()
    if miss.any():
        sub = html[miss.to_numpy()]
        if keep_text:
            text.loc[miss] = extract_text_kernel(sub).to_numpy()
        coords = parse_coords_kernel(sub)
        lat.loc[miss] = coords["lat"].to_numpy()
        lon.loc[miss] = coords["lon"].to_numpy()

    x, y = lonlat_to_utm(lon.to_numpy(), lat.to_numpy(), utm_zone)
    if keep_text:
        out["text"] = text.fillna("")
    out["lon"] = lon
    out["lat"] = lat
    out["x"] = x
    out["y"] = y
    return pd.DataFrame(out)


def make_page_parser(utm_zone: int = 31, keep_text: bool = True):
    """Fused page kernel: html -> (text, lon, lat, x, y) in ONE Arrow
    round trip AND one combined regex pass. Chaining separate
    extract/parse/project UDFs forces one ArrowEvalPython node per
    dependency level — one JVM<->Python batch hop each (measured ~5x
    slowdown of the pages pipeline)."""
    fields = [
        StructField("text", StringType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
    ]
    if not keep_text:
        fields = fields[1:]

    @F.pandas_udf(StructType(fields))
    def parse_page(html: pd.Series) -> pd.DataFrame:
        return parse_page_kernel(html, utm_zone, keep_text)

    return parse_page
