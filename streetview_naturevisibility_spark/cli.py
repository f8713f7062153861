"""spark-submit entry point — the engine twin of the reference CLIs.

    spark-submit --py-files svnv_spark.zip -m ... cli.py pipeline \\
        --roads roads.parquet --pages pages.parquet --out results/ \\
        [--spacing 50] [--max-distance 50] [--cut-by-road-centres] \\
        [--checkpoint results/_ckpt] [--begin N --end M]
    ... cli.py metrics --roads roads.parquet --results results/ \\
        [--checkpoint results/_ckpt]
    ... cli.py gap-fill --results results/ --ndvi-grid ndvi.parquet \\
        [--checkpoint results/_ckpt] [--distance 50] [--model linear]

Subcommands (reference analogs cited):
- ``pipeline``  — main_script.py end-to-end: sample points -> tile ->
  kNN snap -> GVI -> per-road aggregate, each stage checkpointed
  (resume = rerun the same command); prints each stage's files and
  rows, read from the parquet footers. A stage stores only what a
  later stage reads: ``pages_prepared`` the page coordinates and cells
  (no text), ``snapped`` the six columns the scorer reads, and the
  ``gvi_points`` stage parses the text of the snapped-to pages alone
  (a semi-join of the raw pages on the hit urls). ``--begin/--end``
  slices are checkpointed one stage each, and the outputs hold every
  slice run into the checkpoint root so far.
- ``metrics``   — scripts/mean_gvi_street.py + results_metrics.py
  reporting chain over a finished pipeline output.
- ``gap-fill``  — predict_missing_gvi.py: zonal NDVI + OLS fill.
- ``stac-ndvi`` — availability.py NDVI flow over a LOCAL static STAC
  catalog: search -> lowest-cloud item -> red/nir -> NDVI grid in the
  exact shape ``gap-fill --ndvi-grid`` consumes.
- ``stac-landcover`` — availability.py get_landcover_percentages flow:
  most-recent esa-worldcover item -> per-point class percentages.
- ``curate``    — training-corpus curation funnel over a documents
  table (engine addendum, no reference analog): quality filter ->
  exact dedup -> MinHash-LSH near-dup clustering with canonical
  keepers -> deterministic stratified sample; prints the funnel
  counts and the LSH bucket-drop metrics.
- ``layout``    — rewrite a pages/points parquet Z-ordered by
  (tile_x, tile_y) so bbox scans skip files.

Every parquet input is read with ``resume.read_parquet``: its schema
comes from the first footer on the driver, so reading parquet that
Spark or pyarrow wrote runs no schema-inference job.

On a real cluster drop ``--master``; on the sandbox it defaults to
local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import argparse
import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.aggregates import (
    availability_report,
    build_intersection,
    grand_total,
    gvi_per_road,
    highway_report,
    missing_images_report,
    panoramic_report,
    per_road_report,
    road_aggregate_with_total,
    roads_with_avg_gvi,
    top5_highways,
    totals_frame,
    usability_report,
)
from .operators.bloom import bloom_anti_join, build_bloom
from .operators.corpus import (
    dedup_keep_canonical,
    duplicate_clusters,
    pack_rows,
    stratified_sample,
    token_budget_select,
)
from .operators.dedup import minhash_lsh_pairs
from .operators.gvi import score_snapped_points
from .operators.knn import knn_snap
from .operators.regression import (
    LinearGAM1D,
    gam_cv,
    gam_fill,
    gap_fill_cv_metrics,
    gap_fill_linear,
    known_xy,
)
from .operators.resume import (
    committed_stages,
    parquet_rows,
    read_lineage,
    read_parquet,
    read_stage,
    run_stage,
)
from .operators.sampling import sample_points
from .operators.similarity import semantic_dedup
from .operators.textops import (
    analysis_cols,
    analyze_documents,
    c4_clean,
    chunk_dedup,
    chunk_dedup_cdc,
    decontaminate,
    dsir_select,
    fix_text,
    paragraph_dedup,
    repetition_signals,
    score_bigram_logprob,
    score_quality_classifier,
    span_dedup_c4,
    train_bigram_lm,
    train_quality_classifier,
)
from .operators.tiling import hit_pages, prepare_pages
from .operators.tokenize import bpe_token_count, train_bpe_from_corpus
from .operators.zonal import zonal_mean
from .session import fits, get_spark, materialize
from .sources.layout import write_spatial_sorted
from .sources.stac import landcover_percentages, ndvi_for_aoi


def cmd_pipeline(args: argparse.Namespace) -> None:
    spark = get_spark(app_name="svnv-pipeline", master=args.master)
    roads = read_parquet(spark, args.roads)
    pages_raw = read_parquet(spark, args.pages)
    root = args.checkpoint or os.path.join(args.out, "_ckpt")

    points = run_stage(
        spark, root, "sample_points", lambda: sample_points(roads, args.spacing)
    )
    # each stage stores only what a later stage reads: the snap needs
    # the pages' coordinates, the scorer the points' snap columns, and
    # the text is parsed in the gvi stage for the hit pages alone
    pages = run_stage(
        spark, root, "pages_prepared",
        lambda: prepare_pages(pages_raw, keep_text=False),
    )
    snapped = run_stage(
        spark,
        root,
        "snapped",
        lambda: knn_snap(points, pages, max_distance=args.max_distance).select(
            "point_id", "lon", "lat", "page_url", "snap_distance", "is_panoramic"
        ),
    )
    gvi_sel = snapped
    gvi_stage = "gvi_points"
    ranged = args.begin is not None or args.end is not None
    if ranged:
        lo = args.begin or 0
        hi = args.end if args.end is not None else 1 << 62
        gvi_sel = snapped.where(
            (F.col("point_id") >= F.lit(lo)) & (F.col("point_id") < F.lit(hi))
        )
        # each slice is its own checkpoint: a run over another range
        # into the same --out must not resume this one
        gvi_stage = f"gvi_points_{lo}_{hi}"
    gvi = run_stage(
        spark,
        root,
        gvi_stage,
        lambda: score_snapped_points(
            gvi_sel, hit_pages(pages_raw, gvi_sel), args.cut_by_road_centres
        ),
    )
    if ranged:
        # the outputs hold every slice committed under this root so far,
        # each point once: chunks accumulate, as the reference's
        # per-chunk append does (modules/process_data.py:347-366)
        gvi = reduce(
            DataFrame.unionByName,
            (read_stage(spark, root, s)
             for s in committed_stages(root, "gvi_points_")),
        ).dropDuplicates(["point_id"])
    per_road = gvi_per_road(build_intersection(gvi, points, roads))
    per_road.orderBy("road_id").write.mode("overwrite").parquet(
        os.path.join(args.out, "gvi_per_road")
    )
    gvi.orderBy("point_id").write.mode("overwrite").parquet(
        os.path.join(args.out, "gvi_points")
    )
    for stage in ("sample_points", "pages_prepared", "snapped", gvi_stage):
        recs = read_lineage(root, stage)
        rows = sum(r["rows"] for r in recs)
        print(f"[lineage] {stage}: {len(recs)} files, {rows} rows")


def cmd_metrics(args: argparse.Namespace) -> None:
    spark = get_spark(app_name="svnv-metrics", master=args.master)
    roads = read_parquet(spark, args.roads)
    root = args.checkpoint or os.path.join(args.results, "_ckpt")
    points = read_stage(spark, root, "sample_points")
    gvi = read_parquet(spark, os.path.join(args.results, "gvi_points"))
    inter = build_intersection(gvi, points, roads)
    # one job: the stored road-level pre-aggregate answers the per-road
    # and highway reports, and its grand-total row, observed as it is
    # stored, the four one-row reports
    road, st = materialize(
        road_aggregate_with_total(inter), where=~F.col("_total"), **grand_total()
    )
    t = totals_frame(inter, st)
    per_road = per_road_report(road)
    if fits(spark, st["bytes"]):
        # the stored frame has no size statistics: without the hint
        # the left join shuffles the roads as well
        per_road = F.broadcast(per_road)

    print("gvi-streets (per-road):")
    roads_with_avg_gvi(roads, per_road).orderBy("road_id").show(20)
    print("missing images:")
    missing_images_report(t).show()
    print("panoramic images:")
    panoramic_report(t).show()
    print("availability score:")
    availability_report(t).show()
    print("usability score:")
    usability_report(t).show()
    print("top-5 highway types by image count:")
    top5_highways(highway_report(road, t)).show()


def cmd_gap_fill(args: argparse.Namespace) -> None:
    spark = get_spark(app_name="svnv-gapfill", master=args.master)
    gvi = read_parquet(spark, os.path.join(args.results, "gvi_points"))
    root = args.checkpoint or os.path.join(args.results, "_ckpt")
    points = read_stage(spark, root, "sample_points")
    grid = read_parquet(spark, args.ndvi_grid)
    ndvi = zonal_mean(points, grid, radius=args.distance / 2.0)
    feats = gvi.join(ndvi, "point_id", "left").withColumnRenamed("mean_ndvi", "ndvi")
    # three actions read the known features (CV metrics, known-set
    # collect, write): run the zonal candidate join and its groupBy once
    known_feats, _ = materialize(feats.where(F.col("ndvi").isNotNull()))
    # Collect the CV metrics row BEFORE choosing/fitting a model: the
    # GAM path fits eagerly on the driver (toPandas + np.quantile), so
    # a zero-known input (e.g. the NDVI raster does not overlap the
    # study area at all) must be caught here, not after the fit
    # crashes on an empty array.
    m = gap_fill_cv_metrics(known_feats, feature="ndvi", target="gvi").collect()[0]
    if not m.n_known:
        # nothing to fit — write an empty (schema-stable) gvi_filled,
        # report and stop instead of crashing on None comparisons
        known_feats.withColumn(
            "gvi_filled", F.lit(None).cast("double")
        ).write.mode("overwrite").parquet(os.path.join(args.results, "gvi_filled"))
        print(
            "WARNING: no points with NDVI values — check that the NDVI "
            "raster covers the study area; gvi_filled is empty (points "
            "without an NDVI feature cannot be predicted)"
        )
        return
    # the known set, collected once: the GAM fit and the GAM CV read it
    x, y = known_xy(known_feats, feature="ndvi", target="gvi")
    # --model selects the filler (the reference evaluates both and its
    # README picks the GAM on its data; linear stays the default for
    # protocol continuity with rounds 1-3)
    if args.model == "gam":
        try:
            gam = LinearGAM1D().fit(x, y)
        except ValueError as e:  # the eager driver fit, before any write
            raise SystemExit(f"gap-fill --model gam: {e}")
        out = gam_fill(known_feats.orderBy("point_id"), gam, feature="ndvi", target="gvi")
    else:
        out = gap_fill_linear(known_feats, feature="ndvi", target="gvi").orderBy("point_id")
    out.write.mode("overwrite").parquet(os.path.join(args.results, "gvi_filled"))
    g = gam_cv(x, y)
    # the reference's model-selection printout
    # (predict_missing_gvi.py:81-85: cv=5 R2 / RMSE / AIC)
    if m.n_known < 5 or m.avg_rmse is None or m.avg_r2 is None or g["aic"] is None:
        print(
            f"WARNING: CV metrics degenerate (n_known={m.n_known}; "
            "constant-x training fold or constant-y test fold) — "
            "metrics below may be null; gap-fill output itself is unaffected"
        )
    print("<----- Linear Regression ----->")
    print("R2 value:", m.avg_r2)
    print("RMSE:", m.avg_rmse)
    print("AIC value:", m.aic)
    # the GAM half of the reference printout (predict_missing_gvi.py:139-144)
    print("<----- Linear GAM ----->")
    print("RMSE:", g["avg_rmse"])
    print("AIC value:", g["aic"])
    print("gap-fill complete -> gvi_filled")


def cmd_stac_ndvi(args: argparse.Namespace) -> None:
    """S9 end-to-end as a user command (reference availability.py
    get_ndvi flow): search a LOCAL static STAC catalog, pick the
    lowest-cloud item, compute NDVI from its red/nir band rasters and
    write an ``ndvi_grid.parquet`` in exactly the shape ``gap-fill
    --ndvi-grid`` consumes (cell_x, cell_y, cx, cy, value) — catalog
    to regression with no manual glue. Prints the reference's
    image-info lines (availability.py:166-170)."""
    spark = get_spark(app_name="svnv-stac-ndvi", master=args.master)
    try:
        bbox = tuple(float(v) for v in args.bbox.split(","))
    except ValueError:
        raise SystemExit("--bbox expects x0,y0,x1,y1 (numbers)")
    if len(bbox) != 4:
        raise SystemExit("--bbox expects x0,y0,x1,y1")
    date_range = tuple(args.date_range.split(","))
    if len(date_range) != 2:
        raise SystemExit("--date-range expects start,end")
    ndvi, item = ndvi_for_aoi(
        spark, args.catalog, bbox, date_range,
        collection=args.collection, max_cloud=args.max_cloud,
    )
    out_path = os.path.join(args.out, "ndvi_grid.parquet")
    ndvi.select(
        "cell_x", "cell_y", "cx", "cy", F.col("ndvi").alias("value")
    ).write.mode("overwrite").parquet(out_path)
    print(
        "Information on the satellite item used to compute NDVI values:"
        f"\n   item: {item.item_id} ({item.collection})"
        f"\n   datetime: {item.datetime}"
        f"\n   cloud cover: {item.cloud_cover}"
    )
    print(f"stac-ndvi complete -> {out_path}")


def cmd_stac_landcover(args: argparse.Namespace) -> None:
    """Reference get_landcover_percentages flow (availability.py:292):
    per-point landcover class percentages from the most recent
    esa-worldcover item of a LOCAL static STAC catalog, euclidean
    buffer of --radius meters."""
    spark = get_spark(app_name="svnv-stac-landcover", master=args.master)
    points = read_parquet(spark, args.points)
    out, item = landcover_percentages(
        spark, args.catalog, points, radius=args.radius
    )
    path = os.path.join(args.out, "landcover_percentages.parquet")
    out.write.mode("overwrite").parquet(path)
    print(
        "Information on the land cover item used:"
        f"\n   item: {item.item_id} ({item.collection})"
        f"\n   datetime: {item.datetime}"
    )
    print(f"stac-landcover complete -> {path}")


# analyze_documents columns the curate funnel never reads: its
# boundaries drop them and the unpacked output gets them at the write
_ATTACHED_AT_WRITE = (
    "n_bpe_pieces", "mean_token_len", "alpha_ratio", "distinct_token_ratio",
    "fingerprint",
)


def _per_lang(spec: str, cast) -> dict:
    """``"en=0.5,de=1"`` -> ``{"en": cast("0.5"), "de": cast("1")}``."""
    return {kv.split("=")[0]: cast(kv.split("=")[1]) for kv in spec.split(",")}


def cmd_curate(args: argparse.Namespace) -> None:
    """Training-corpus curation over a documents table: quality filter
    -> exact dedup -> MinHash-LSH near-dup clustering (keep canonical)
    -> optional deterministic stratified sample. Prints a funnel
    summary; every stage is a distributed DataFrame op (the near-dup
    bucket join is capped via --max-bucket with drop metrics printed,
    never silent)."""
    if args.dsir_target and args.dsir_keep is None:
        raise SystemExit("--dsir-target requires --dsir-keep")

    spark = get_spark(app_name="svnv-curate", master=args.master)
    docs = read_parquet(spark, args.docs)
    n_in = docs.count()

    def rewrite(out, text_col, where=None, **metrics):
        """One text-rewrite stage: materialize the operator's output
        with its ``metrics`` observed and put its ``text_col`` in place
        of the docs' text (a doc failing ``where`` is dropped). Returns
        the metrics."""
        nonlocal docs
        out, st = materialize(out, where, **metrics)
        docs = docs.drop("text").join(
            out.select("doc_id", F.col(text_col).alias("text")), "doc_id"
        )
        return st

    if args.fix_text:
        # encoding cleanup FIRST: every later stage (shingles, LM,
        # classifier, dedup digests) judges the repaired text
        st = rewrite(
            fix_text(docs), "text_fixed", n=F.count(F.when(F.col("changed"), 1))
        )
        print(f"[fix] repaired={st['n']} docs (mojibake/spaces/control chars)")

    if args.c4:
        # C4 line/page heuristics (Raffel et al. 2020 §2.2) directly
        # after encoding repair: later stages (shingles, LM, dedup
        # digests) judge the line-cleaned text
        st = rewrite(
            c4_clean(
                docs,
                min_words_per_line=args.c4_min_words,
                min_sentences=args.c4_min_sentences,
            ),
            "text_clean",
            where=F.col("keep"),
            kept=F.sum(F.col("keep").cast("long")),
            nl=F.sum("n_lines"),
            nk=F.sum("n_lines_kept"),
        )
        print(
            f"[c4] kept={int(st['kept'] or 0)} of {n_in} pages; "
            f"lines {int(st['nl'] or 0)} -> {int(st['nk'] or 0)}"
        )
        n_in = int(st["kept"] or 0)

    if args.blocklist:
        blk = read_parquet(spark, args.blocklist)
        n_before = n_in
        docs, st = materialize(decontaminate(docs, blk, n=args.decontam_n))
        n_in = st["rows"]
        print(
            f"[decontam] dropped={n_before - n_in} "
            f"({args.decontam_n}-gram overlap vs blocklist)"
        )

    # substring-level dedup before scoring, in this order: each cuts
    # a repeated unit from all but its globally-first occurrence
    for on, tag, dedup, what in (
        # boilerplate paragraphs: quality/LM judge the text the
        # downstream corpus will actually contain
        (args.para_dedup, "para",
         lambda d: paragraph_dedup(
             d, max_docs=args.para_max_docs, min_chars=args.para_min_chars
         ),
         "boilerplate paragraph instances"),
        # repeated L-char chunks (RETRO-chunk approximation)
        (args.chunk_dedup, "chunk",
         lambda d: chunk_dedup(d, chunk_chars=args.chunk_dedup),
         f"duplicated {args.chunk_dedup}-char chunk instances"),
        # C4 §2.2 companion: n-sentence spans (sentence-unit analog of
        # the chunk grid; pairs naturally with --c4)
        (args.span_dedup, "span",
         lambda d: span_dedup_c4(d, n_sents=args.span_dedup),
         f"duplicated {args.span_dedup}-sentence span instances"),
        # alignment-free content-defined token chunks (boundaries from
        # the token hash, so repeats match at ANY position — see
        # BENCH/BASELINE.md "grid-alignment recall")
        (args.chunk_dedup_cdc, "chunk-cdc",
         lambda d: chunk_dedup_cdc(d, avg_tokens=args.chunk_dedup_cdc),
         "duplicated content-defined chunk instances "
         f"(~{args.chunk_dedup_cdc} tokens)"),
    ):
        if on:
            st = rewrite(dedup(docs), "text_deduped", removed=F.sum("n_removed"))
            print(f"[{tag}] removed={st['removed'] or 0} {what}")

    # Funnel boundaries: the quality filter, each enabled gate, exact
    # dedup, the done set, near dedup, semdedup, DSIR and the budget
    # each end in one materialize, and every printed count is read
    # from that job's observation. No count or operator re-reads a
    # lineage that was not materialized (each used to re-run the scan
    # -> analyze_documents -> md5 digest shuffle chain above it). The
    # boundary frames are PRUNED to the input columns plus the three
    # derived columns later stages read (lang_pred, n_tokens,
    # quality_score): a full-column cache computes the fingerprint UDF
    # for every row and was 3-10x slower at 200k docs (BENCH/BASELINE.md
    # "Funnel caching negative result"). The other five analysis
    # columns are attached to the survivors at the write. Ten
    # interleaved perfbench pairs on a 4-vCPU host: curate_funnel
    # rows_per_s median 416 -> 624, cpu_s 22.0 -> 13.4.
    kept_q, st = materialize(
        analyze_documents(docs, keep_input_cols=True).drop(*_ATTACHED_AT_WRITE),
        F.col("quality_score") >= F.lit(args.min_quality),
    )
    n_quality = st["rows"]

    if args.max_dup_line_frac is not None or args.max_top2gram_frac is not None:
        # Gopher-style repetition filter between the heuristic quality
        # gate and the LM gate
        rep = repetition_signals(kept_q.select("doc_id", "text"), top_ns=(2,))
        cond = F.lit(False)
        if args.max_dup_line_frac is not None:
            cond = cond | (F.col("dup_line_frac") > args.max_dup_line_frac)
        if args.max_top2gram_frac is not None:
            cond = cond | (F.col("top2gram_char_frac") > args.max_top2gram_frac)
        bad = rep.where(cond).select("doc_id")
        kept_q, st = materialize(kept_q.join(bad, "doc_id", "left_anti"))
        print(f"[rep] dropped={n_quality - st['rows']} repetitive docs")
        n_quality = st["rows"]

    if args.lm_ref:
        # CCNet-style in-domain filter: bigram LM trained on the
        # reference corpus; docs below --min-logprob are dropped.
        # Docs with NO score (fewer than 2 tokens -> NULL mean_logprob)
        # are KEPT, per score_bigram_logprob's contract: an unscorable
        # doc is not a bad doc — the quality filter already judged it.
        ref = read_parquet(spark, args.lm_ref)
        uni, bi, v = train_bigram_lm(ref)
        lp = score_bigram_logprob(kept_q, uni, bi, v)
        kept_q, st = materialize(
            kept_q.join(lp.select("doc_id", "mean_logprob"), "doc_id", "left"),
            F.col("mean_logprob").isNull()
            | (F.col("mean_logprob") >= F.lit(args.min_logprob)),
            unscorable=F.count(F.when(F.col("mean_logprob").isNull(), 1)),
        )
        kept_q = kept_q.drop("mean_logprob")
        if st["unscorable"]:
            print(
                f"[lm] kept {st['unscorable']} unscorable docs "
                "(<2 tokens, no LM score — not dropped)"
            )
        n_quality = st["rows"]

    if args.clf_ref:
        # fastText-style classifier gate: logistic regression trained
        # driver-side on (reference sample) vs (deterministic sample of
        # this corpus), scored distributed. Unscorable NULL-text docs
        # are KEPT (the LM-filter contract).
        ref = read_parquet(spark, args.clf_ref)
        pos = [r.text for r in ref.where(F.col("text").isNotNull())
               .orderBy("doc_id").limit(args.clf_train_n).collect()]
        neg = [r.text for r in kept_q.where(F.col("text").isNotNull())
               .orderBy("doc_id").limit(args.clf_train_n)
               .select("doc_id", "text").collect()]
        if not pos or not neg:
            # an empty/all-NULL reference (or an already-empty pool)
            # would reach np.stack([]) deep in the trainer — fail at
            # the gate with the actual cause instead
            raise SystemExit(
                "[clf] --clf-ref/corpus produced no training texts "
                f"(pos={len(pos)}, neg={len(neg)})"
            )
        w, bias = train_quality_classifier(pos, neg)
        cp = score_quality_classifier(kept_q, w, bias)
        kept_q, st = materialize(
            kept_q.join(cp, "doc_id", "left"),
            F.col("clf_prob").isNull()
            | (F.col("clf_prob") >= F.lit(args.clf_min_prob)),
            dropped=F.count(F.when(F.col("clf_prob") < F.lit(args.clf_min_prob), 1)),
        )
        kept_q = kept_q.drop("clf_prob")
        print(f"[clf] dropped={st['dropped']} below P(reference-like) {args.clf_min_prob}")
        n_quality = st["rows"]

    # exact dedup: keep the min doc_id per content digest (shuffle on
    # the digest only; the digest frame is corpus-sized, NOT broadcast)
    digests = kept_q.withColumn("_digest", F.md5(F.col("text")))
    keepers = digests.groupBy("_digest").agg(F.min("doc_id").alias("doc_id"))
    exact, st = materialize(
        digests.join(keepers, ["_digest", "doc_id"], "left_semi").drop("_digest")
    )
    n_exact = st["rows"]

    if args.done_digests:
        # INCREMENTAL exact dedup vs the already-curated done set:
        # drop every doc whose md5 digest appears in the given parquet
        # (column `digest`). --done-bloom routes through the Bloom
        # pre-probe (operators/bloom.py) — same survivors, the done
        # set is scanned, never shuffled; the filter would be built
        # once and reused across batches on a real deployment.
        done = read_parquet(spark, args.done_digests).select("digest")
        # a pre-existing `digest` column on the docs would make the
        # rename below ambiguous — the funnel's digest is its own
        if "digest" in exact.columns:
            exact = exact.drop("digest")
        keyed = exact.withColumn("_digest", F.md5(F.col("text")))
        if args.done_bloom:
            # from the done set's parquet footers
            cap = read_parquet(spark, args.done_digests).count()
            bloom = build_bloom(done, "digest", capacity=max(cap, 1))
            exact = bloom_anti_join(
                keyed.withColumnRenamed("_digest", "digest"),
                done,
                "digest",
                bloom,
            ).drop("digest")
            mode = f"bloom(capacity={cap})"
        else:
            exact = keyed.join(
                done, keyed["_digest"] == done["digest"], "left_anti"
            ).drop("_digest")
            mode = "anti-join"
        exact, st = materialize(exact)
        print(
            f"[done-set] dropped={n_exact - st['rows']} already-curated "
            f"docs ({mode})"
        )
        n_exact = st["rows"]

    # near-dup: LSH pairs -> connected components -> keep canonical
    pairs, metrics = minhash_lsh_pairs(
        exact,
        jaccard_threshold=args.jaccard,
        max_bucket=args.max_bucket,
        return_metrics=True,
    )
    clusters = duplicate_clusters(pairs, algorithm=args.cc_algorithm)
    near, st = materialize(dedup_keep_canonical(exact, clusters))
    n_near = st["rows"]
    m = metrics.collect()[0]
    print(
        f"[lsh] buckets={m.n_buckets} dropped_buckets={m.dropped_buckets} "
        f"dropped_members={m.dropped_members}"
    )

    # the running pool size: each later stage that drops docs counts
    # its output once and the next stage's line reports against it
    out, n_pool = near, n_near
    if args.semdedup:
        # SemDeDup semantic dedup: embeddings parquet keyed by vec_id
        # == doc_id; docs whose embedding has a preferred within-
        # cluster near-duplicate are dropped. Docs WITHOUT an
        # embedding row are kept (an unembedded doc is not a dup —
        # same keep-on-unscorable contract as the LM filter).
        emb = read_parquet(spark, args.semdedup)
        big = args.semdedup_lists > 32
        sd = semantic_dedup(
            emb,
            threshold=args.semdedup_threshold,
            n_lists=args.semdedup_lists,
            dim=args.semdedup_dim,
            # scale path past the literal-Column limit: Arrow matmul
            # assignment + per-cluster BLAS dominance (10.9x vs the
            # pair join at 1M vectors, identical outputs)
            assign="udf" if big else "column",
            pairs="local" if big else "join",
        )
        dup_ids = sd.where(~F.col("kept")).select(
            F.col("vec_id").alias("doc_id")
        )
        out, st = materialize(out.join(dup_ids, "doc_id", "left_anti"))
        print(f"[semdedup] dropped={n_pool - st['rows']} semantic near-dups")
        n_pool = st["rows"]
    if args.dsir_target:
        # DSIR importance resampling: keep the --dsir-keep docs whose
        # hashed-n-gram profile best matches the target domain. Runs
        # AFTER dedup (the published setup selects from the deduped
        # pool) and before sampling/budget mixing.
        tgt = read_parquet(spark, args.dsir_target)
        out, st = materialize(
            dsir_select(
                out, tgt, n=args.dsir_keep, n_buckets=args.dsir_buckets
            ).drop("dsir_logweight")
        )
        # report the actual kept rows (fewer docs than --dsir-keep keeps
        # them all) — funnel accounting must not report the ask
        print(f"[dsir] kept={st['rows']} of {n_pool} (target-likeness rank)")
        n_pool = st["rows"]
    if args.sample:
        rates = _per_lang(args.sample, float)
        out = stratified_sample(out, "lang_pred", rates, "doc_id",
                                default_rate=args.default_rate)

    tokens_col = "n_tokens"
    if args.bpe_merges:
        # real subword counts for the budget/pack stages: merges are
        # learned ONCE from a bounded sample of the SELECTED pool,
        # broadcast, applied Arrow-batched (operators/tokenize.py)
        merges = train_bpe_from_corpus(
            out,
            n_merges=args.bpe_merges,
            sample_docs=args.bpe_sample,
        )
        out = bpe_token_count(out, merges)
        tokens_col = "n_tokens_bpe"
        print(
            f"[bpe] learned {len(merges)} merges; budget/pack count "
            "subwords (n_tokens_bpe)"
        )

    if args.token_budget:
        # final mixing stage: fill each language's token budget with
        # its best remaining docs (bucketed two-phase — only the
        # boundary quality-bucket per stratum is sorted)
        budgets = _per_lang(args.token_budget, int)
        out, _ = materialize(token_budget_select(
            out,
            budgets,
            strata_col="lang_pred",
            quality_col="quality_score",
            # analyze_documents already counted tokens — reuse, don't
            # re-split the text (or the BPE subword counts when asked)
            tokens_col=tokens_col,
            default_budget=args.budget_default,
        ))
        tot = out.groupBy("lang_pred").agg(F.sum(tokens_col).alias("t"))
        mix = {r.lang_pred: int(r.t) for r in tot.collect()}
        print(
            "[budget] tokens kept per lang: "
            + ", ".join(f"{k}={v}" for k, v in sorted(mix.items(), key=str))
        )
    if args.pack_tokens:
        # final stage: materialize fixed-token-budget training rows
        out = pack_rows(out, args.pack_tokens, tokens_col=tokens_col)
        print(f"[pack] budget={args.pack_tokens} tokens/row")
    else:
        # the analysis columns no stage reads, computed for the
        # survivors only, in analyze_documents' column order (the
        # three the funnel kept stay adjacent, starting at lang_pred)
        full = analysis_cols("text")
        i = out.columns.index("lang_pred")
        j = i + len(full) - len(_ATTACHED_AT_WRITE)
        out = out.select(
            *(out[c] for c in out.columns[:i]),
            *(c.alias(k) if k in _ATTACHED_AT_WRITE else out[k]
              for k, c in full.items()),
            *(out[c] for c in out.columns[j:]),
        )

    curated = os.path.join(args.out, "curated")
    out.write.mode("overwrite").parquet(curated)
    # from the written files' footers, on the driver: counting `out`
    # itself would re-run the whole funnel a second time
    n_out = parquet_rows(curated)
    print(
        f"[curate] in={n_in} quality>={args.min_quality}: {n_quality} "
        f"exact-dedup: {n_exact} near-dedup: {n_near} sampled: {n_out}"
    )


def cmd_layout(args: argparse.Namespace) -> None:
    """Rewrite a pages/points parquet clustered by Z-order of
    (tile_x, tile_y): disjoint per-file morton ranges + tight tile
    min/max stats, so bbox scans skip files (sources/layout.py)."""
    spark = get_spark(app_name="svnv-layout", master=args.master)
    df = read_parquet(spark, args.input)
    write_spatial_sorted(
        df, args.out, x_col=args.x_col, y_col=args.y_col,
        num_files=args.num_files,
    )
    n = parquet_rows(args.out)
    print(f"[layout] wrote {n} rows z-ordered by ({args.x_col}, {args.y_col}) -> {args.out}")


def build_parser() -> argparse.ArgumentParser:
    """The whole command line: every subcommand, its options and their
    defaults, with the handler as ``fn``."""
    p = argparse.ArgumentParser(prog="svnv-spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("pipeline")
    pp.add_argument("--roads", required=True)
    pp.add_argument("--pages", required=True)
    pp.add_argument("--out", required=True)
    pp.add_argument("--spacing", type=int, default=50)
    pp.add_argument("--max-distance", type=float, default=50.0)
    pp.add_argument("--cut-by-road-centres", action="store_true")
    pp.add_argument("--checkpoint", default=None)
    pp.add_argument("--begin", type=int, default=None)
    pp.add_argument("--end", type=int, default=None)
    pp.set_defaults(fn=cmd_pipeline)

    pm = sub.add_parser("metrics")
    pm.add_argument("--roads", required=True)
    pm.add_argument("--results", required=True)
    pm.add_argument("--checkpoint", default=None)
    pm.set_defaults(fn=cmd_metrics)

    pg = sub.add_parser("gap-fill")
    pg.add_argument("--results", required=True)
    pg.add_argument("--ndvi-grid", required=True)
    pg.add_argument("--checkpoint", default=None)
    pg.add_argument("--distance", type=float, default=50.0)
    pg.add_argument("--model", choices=["linear", "gam"], default="linear")
    pg.set_defaults(fn=cmd_gap_fill)

    pc = sub.add_parser("curate")
    pc.add_argument("--docs", required=True)
    pc.add_argument("--out", required=True)
    pc.add_argument("--min-quality", type=float, default=0.5)
    pc.add_argument("--jaccard", type=float, default=0.5)
    pc.add_argument("--max-bucket", type=int, default=10_000)
    pc.add_argument(
        "--cc-algorithm",
        choices=["propagation", "star"],
        default="propagation",
        help="connected-components kernel for near-dup clustering: "
        "min-label propagation (O(diameter) rounds, right for the "
        "near-clique components LSH emits) or large/small-star "
        "(O(log^2 n) rounds, for adversarial chain-shaped dup graphs)",
    )
    pc.add_argument(
        "--sample",
        default=None,
        help="per-stratum rates over predicted lang, e.g. en=0.25,de=0.5",
    )
    pc.add_argument("--default-rate", type=float, default=1.0)
    pc.add_argument(
        "--blocklist",
        default=None,
        help="parquet of benchmark docs (column `text`); docs sharing any "
        "n-gram with it are dropped before the funnel (decontamination)",
    )
    pc.add_argument("--decontam-n", type=int, default=13)
    pc.add_argument(
        "--c4",
        action="store_true",
        help="C4-style cleaning (Raffel et al. 2020): keep only "
        "terminal-punctuated lines with >= --c4-min-words words and no "
        "'javascript'; drop pages with 'lorem ipsum', curly brackets, "
        "or fewer than --c4-min-sentences sentences after cleaning",
    )
    pc.add_argument("--c4-min-words", type=int, default=3)
    pc.add_argument("--c4-min-sentences", type=int, default=5)
    pc.add_argument(
        "--bpe-merges",
        type=int,
        default=None,
        help="learn this many BPE merges from a --bpe-sample doc sample "
        "of the selected pool and make --token-budget/--pack-tokens "
        "count real subwords instead of whitespace tokens",
    )
    pc.add_argument("--bpe-sample", type=int, default=10_000)
    pc.add_argument(
        "--done-digests",
        default=None,
        help="parquet of already-curated content digests (column "
        "`digest`, md5 of text): incremental runs drop matching docs "
        "after within-corpus exact dedup",
    )
    pc.add_argument(
        "--done-bloom",
        action="store_true",
        help="route the --done-digests anti-join through the Bloom "
        "pre-probe (scan the done set, never shuffle it)",
    )
    pc.add_argument(
        "--lm-ref",
        default=None,
        help="parquet of in-domain reference docs (column `text`): train a "
        "bigram LM on it and drop docs below --min-logprob; docs too short "
        "to score (<2 tokens) are kept and counted, not dropped",
    )
    pc.add_argument("--min-logprob", type=float, default=-12.0)
    pc.add_argument(
        "--para-dedup",
        action="store_true",
        help="corpus-level paragraph dedup before scoring: paragraphs "
        "appearing in more than --para-max-docs distinct docs are removed "
        "from every doc (RefinedWeb-style boilerplate removal)",
    )
    pc.add_argument("--para-max-docs", type=int, default=1)
    pc.add_argument("--para-min-chars", type=int, default=0)
    pc.add_argument(
        "--chunk-dedup",
        type=int,
        default=None,
        metavar="L",
        help="substring-level exact dedup before scoring: every "
        "repeated non-overlapping L-char chunk is cut from all but "
        "its globally-first occurrence (RETRO-chunk approximation of "
        "suffix-array dedup)",
    )
    pc.add_argument(
        "--chunk-dedup-cdc",
        type=int,
        default=None,
        metavar="AVG_TOKENS",
        help="alignment-free substring dedup before scoring: content-"
        "defined token chunks (boundary after tokens hashing to bucket "
        "0 of AVG_TOKENS) so repeated passages match at any position; "
        "composes with --chunk-dedup (grid pass runs first)",
    )
    pc.add_argument(
        "--span-dedup",
        type=int,
        default=None,
        metavar="N_SENTS",
        help="C4-style span dedup before scoring: remove all but the "
        "globally-first occurrence of any N_SENTS-sentence span "
        "(C4 pairs this with --c4; 3 is the paper's value)",
    )
    pc.add_argument(
        "--token-budget",
        default=None,
        help="final mixing stage: per-lang token budgets like "
        "'en=40000,de=20000' — keeps each language's highest-quality "
        "docs until the budget fills (bucketed two-phase select)",
    )
    pc.add_argument(
        "--budget-default",
        type=int,
        default=0,
        help="token budget for languages not listed in --token-budget "
        "(0 drops them)",
    )
    pc.add_argument(
        "--max-dup-line-frac",
        type=float,
        default=None,
        help="drop docs whose duplicate-line fraction exceeds this "
        "(Gopher repetition filter)",
    )
    pc.add_argument(
        "--max-top2gram-frac",
        type=float,
        default=None,
        help="drop docs where the most-repeated 2-gram covers more than "
        "this fraction of characters (Gopher repetition filter)",
    )
    pc.add_argument(
        "--dsir-target",
        default=None,
        help="parquet of in-domain documents: after near-dedup, keep the "
        "--dsir-keep docs whose hashed-n-gram profile is most "
        "target-like (DSIR importance resampling)",
    )
    pc.add_argument("--dsir-keep", type=int, default=None)
    pc.add_argument("--dsir-buckets", type=int, default=10_000)
    pc.add_argument(
        "--semdedup",
        default=None,
        help="embeddings parquet (vec_id == doc_id): drop docs whose "
        "embedding has a preferred within-cluster near-duplicate "
        "(SemDeDup); docs without an embedding are kept",
    )
    pc.add_argument("--semdedup-threshold", type=float, default=0.92)
    pc.add_argument("--semdedup-lists", type=int, default=8)
    pc.add_argument("--semdedup-dim", type=int, default=64)
    pc.add_argument(
        "--clf-ref",
        default=None,
        help="parquet of reference documents: train a hashed-n-gram "
        "logistic classifier (reference vs a sample of this corpus) "
        "and drop docs with P(reference-like) below --clf-min-prob "
        "(unscorable NULL-text docs are kept)",
    )
    pc.add_argument("--clf-min-prob", type=float, default=0.5)
    pc.add_argument("--clf-train-n", type=int, default=500)
    pc.add_argument(
        "--fix-text",
        action="store_true",
        help="repair mojibake/exotic spaces/control chars BEFORE any "
        "other stage (CCNet-style fix_text)",
    )
    pc.add_argument(
        "--pack-tokens",
        type=int,
        default=None,
        help="final stage: pack the curated docs into training rows of "
        "this token budget (contiguous id-order packing); the output "
        "schema becomes (bin_id, packed_text, n_docs, n_tokens)",
    )
    pc.set_defaults(fn=cmd_curate)

    ps = sub.add_parser("stac-ndvi")
    ps.add_argument("--catalog", required=True)
    ps.add_argument("--bbox", required=True, help="x0,y0,x1,y1 (AOI)")
    ps.add_argument("--date-range", default="2021-01-01,2021-12-30")
    ps.add_argument("--collection", default="sentinel-2-l2a")
    ps.add_argument("--max-cloud", type=float, default=20.0)
    ps.add_argument("--out", required=True)
    ps.set_defaults(fn=cmd_stac_ndvi)

    pw = sub.add_parser("stac-landcover")
    pw.add_argument("--catalog", required=True)
    pw.add_argument("--points", required=True,
                    help="parquet with point_id, x, y (projected meters)")
    pw.add_argument("--radius", type=float, default=50.0)
    pw.add_argument("--out", required=True)
    pw.set_defaults(fn=cmd_stac_landcover)

    pl = sub.add_parser("layout")
    pl.add_argument("--input", required=True)
    pl.add_argument("--out", required=True)
    pl.add_argument("--x-col", default="tile_x")
    pl.add_argument("--y-col", default="tile_y")
    pl.add_argument("--num-files", type=int, default=None)
    pl.set_defaults(fn=cmd_layout)
    return p


def main() -> None:
    args = build_parser().parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
