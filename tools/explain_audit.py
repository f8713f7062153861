"""Physical-plan audit: verify the plans we claim (pushdown, pruning,
broadcast, codegen, single-scan) are the plans Catalyst actually
produces. Writes EXPLAIN.md with formatted plans + pass/fail checks.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import shutil
import sys
from contextlib import contextmanager, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from streetview_naturevisibility_spark.session import get_spark
from streetview_naturevisibility_spark.sources import derived as D


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextmanager
def lazy(module):
    """An operator that materializes an intermediate leaves only a Scan
    ExistingRDD of it in the returned plan. Inside this block
    ``module``'s storing helper is a lazy identity (an empty frame's
    observation: everything fits), so the plan shows the whole LAZY
    operator."""
    stored = module.materialize
    module.materialize = lambda df, where=None: (
        df if where is None else df.where(where), {"rows": 0, "bytes": 0}
    )
    try:
        yield
    finally:
        module.materialize = stored


@contextmanager
def aqe_off(spark):
    """Plans built inside show every Exchange (AQE plans its stages at
    run time, so an adaptive plan hides them until it executes)."""
    key = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def ring_join_shape(plan) -> tuple[bool, str]:
    """``geo.cells.ring_join``'s shape in a non-adaptive executed plan:
    exactly one BroadcastExchange, over the exploded ring (a Generate),
    a hash join on one bigint key, and no Exchange between the streamed
    side's scan and that join."""
    bcasts = [n for n in _nodes(plan) if n.nodeName() == "BroadcastExchange"]
    joins = [
        n
        for n in _nodes(plan)
        if n.nodeName() == "BroadcastHashJoin"
        and any(c.nodeName() == "Generate" for c in _nodes(n))
    ]
    checks = [
        ("exactly 1 BroadcastExchange, over the exploded ring",
         len(bcasts) == 1 and any(c.nodeName() == "Generate" for c in _nodes(bcasts[0]))),
        ("the ring join keys on one bigint",
         len(joins) == 1 and joins[0].leftKeys().size() == 1
         and joins[0].leftKeys().apply(0).dataType().typeName() == "long"),
    ]
    if joins:
        j = joins[0]
        streamed = j.left() if j.buildSide().toString() == "BuildRight" else j.right()
        checks.append(
            ("no Exchange on the streamed (grid) side",
             all(n.nodeName() != "Exchange" for n in _nodes(streamed)))
        )
    notes = [f"  - {'PASS' if ok else 'FAIL'}: {what}" for what, ok in checks]
    return all(ok for _, ok in checks), "\n".join(notes)


def gvi_stage_shape(scored, prepared) -> tuple[bool, str]:
    """The pipeline's text reads in non-adaptive executed plans: in
    ``scored`` (the ``gvi_points`` stage) every text-parse
    ArrowEvalPython sits above the hit-url LeftSemi join, so the parse
    never runs over the whole pages scan; in ``prepared`` (the
    ``pages_prepared`` stage) the parse struct has no ``text`` field."""

    def parses(plan):
        return [
            n for n in _nodes(plan)
            if n.nodeName() == "ArrowEvalPython" and "parse_page" in n.simpleString(100)
        ]

    def semi_join_below(n):
        return any(
            c.nodeName().endswith("Join") and c.joinType().toString() == "LeftSemi"
            for c in _nodes(n)
        )

    def struct_types(n):
        r = n.resultAttrs()
        return [r.apply(i).dataType().simpleString() for i in range(r.size())]

    text_parses, coord_parses = parses(scored), parses(prepared)
    checks = [
        ("the gvi stage parses text in exactly 1 ArrowEvalPython",
         len(text_parses) == 1
         and all("text:" in t for t in struct_types(text_parses[0]))),
        ("the text parse sits above the hit-url LeftSemi join, not over the pages scan",
         bool(text_parses) and all(semi_join_below(n) for n in text_parses)),
        ("the pages_prepared parse struct has no text field",
         len(coord_parses) == 1
         and all("text:" not in t for t in struct_types(coord_parses[0]))),
    ]
    notes = [f"  - {'PASS' if ok else 'FAIL'}: {what}" for what, ok in checks]
    return all(ok for _, ok in checks), "\n".join(notes)


def check(name: str, plan: str, must: list[str], must_not: list[str]) -> tuple[bool, str]:
    ok = True
    notes = []
    for m in must:
        hit = m in plan
        ok &= hit
        notes.append(f"  - {'PASS' if hit else 'FAIL'}: expects `{m}`")
    for m in must_not:
        hit = m not in plan
        ok &= hit
        notes.append(f"  - {'PASS' if hit else 'FAIL'}: must NOT contain `{m}`")
    return ok, "\n".join(notes)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    sections = []
    all_ok = True

    # 1. predicate pushdown + column pruning on a filtered scan
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    q1 = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    p1 = plan_of(q1)
    ok1, n1 = check(
        "scan pushdown",
        p1,
        must=["PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]", "ReadSchema: struct<doc_id:bigint,lang:string>"],
        must_not=[],
    )
    sections.append(("Filtered scan: pushdown + pruning", q1, p1, ok1, n1))

    # 2. kNN snap (contract twin, sort_exact at this scale): broadcast
    # join — the big pages side is never shuffled, no SMJ/NLJ
    gvi = D.spark_gvi(spark, sf_dir)
    p2 = plan_of(gvi)
    ok2, n2 = check(
        "knn snap",
        p2,
        must=["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    )
    sections.append(
        ("kNN snap join (contract twin): broadcast pages-side joins, no shuffle joins", gvi, p2, ok2, n2)
    )

    # 2b. FLAGSHIP pipeline reduce (two_phase default): the full
    # candidate stream reduces via HashAggregate (phase-1 min(dist),
    # map-side partial drains hot cells); the residual SortAggregate
    # only sees winner-distance rows (bounded by the points count)
    from streetview_naturevisibility_spark.operators import knn
    from streetview_naturevisibility_spark.operators.knn import knn_snap

    pages_snap = D.spark_pages(spark, sf_dir).drop("cell_id").withColumnRenamed(
        "scell_id", "cell_id"
    )
    with lazy(knn):
        flag = knn_snap(
            D.spark_points(spark, sf_dir),
            pages_snap,
            max_distance=2 * D.SNAP_RADIUS,
            zoom=D.SNAP_ZOOM,
        )
    p2b = plan_of(flag)
    ok2b, n2b = check(
        "flagship two-phase reduce",
        p2b,
        must=["BroadcastHashJoin", "HashAggregate"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    )
    sections.append(
        (
            "Flagship kNN reduce (two_phase default): hash phase-1 min(dist)",
            flag,
            p2b,
            ok2b,
            n2b,
        )
    )

    # 3. tile assignment is pure codegen (no Python eval)
    pages = D.spark_pages(spark, sf_dir).select("tile_x", "tile_y", "cell_id")
    p3 = plan_of(pages)
    ok3, n3 = check(
        "tile math codegen",
        p3,
        must=["[codegen id :"],
        must_not=["ArrowEvalPython", "BatchEvalPython"],
    )
    sections.append(("Tile/cell assignment: whole-stage codegen, zero Python", pages, p3, ok3, n3))

    # 4. top-k uses TakeOrderedAndProject (no global sort)
    topk = (
        D.spark_pages(spark, sf_dir)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("cell_id"))
        .limit(20)
    )
    p4 = plan_of(topk)
    ok4, n4 = check("top-k", p4, must=["TakeOrderedAndProject"], must_not=[])
    sections.append(("Cell top-k: TakeOrderedAndProject", topk, p4, ok4, n4))

    # 5. per-road agg: partial + final HashAggregate
    from streetview_naturevisibility_spark.operators.aggregates import gvi_per_road

    per_road = gvi_per_road(gvi)
    p5 = plan_of(per_road)
    # upstream knn contains the bounded winner-tie SortAggregate; the
    # road-level aggregation itself must be hash-based
    ok5, n5 = check("per-road agg", p5, must=["HashAggregate"], must_not=[])
    sections.append(("Per-road aggregate: hash partial+final", per_road, p5, ok5, n5))

    # 6. hex snap: pages side un-exploded broadcast join, two-phase hash
    # reduce; single ArrowEvalPython (the one hex-cell UDF per side)
    from streetview_naturevisibility_spark.operators.knn import knn_snap_hex

    with lazy(knn):
        hx = knn_snap_hex(
            D.spark_points(spark, sf_dir),
            D.spark_pages(spark, sf_dir),
            max_distance=2 * D.SNAP_RADIUS,
            hex_size=D.SNAP_RADIUS,
        )
    p6 = plan_of(hx)
    ok6, n6 = check(
        "hex snap",
        p6,
        must=["BroadcastHashJoin", "HashAggregate"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    )
    sections.append(
        ("Hex-ring kNN snap: broadcast join + hash reduce (H3-analog path)", hx, p6, ok6, n6)
    )

    # 6b. zonal: the same ring join as the snaps, on packed meter bins.
    # AQE off so the exchanges are in the plan: the ring side is the one
    # BroadcastExchange (over the exploded bins), the grid streams from
    # its scan into the single-bigint hash join with no Exchange between
    from streetview_naturevisibility_spark.operators.zonal import zonal_mean

    with aqe_off(spark):
        zm = zonal_mean(
            D.spark_points(spark, sf_dir), D.spark_grid(spark, sf_dir), radius=D.ZONAL_RADIUS
        )
        p6b = plan_of(zm)
        exec6b = zm._jdf.queryExecution().executedPlan()
    ok6b, n6b = check(
        "zonal ring join",
        p6b,
        must=["BroadcastHashJoin", "BroadcastExchange"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    )
    ok_ring, n_ring = ring_join_shape(exec6b)
    sections.append(
        (
            "Zonal mean: ring side broadcast, grid never shuffled (packed-bin ring join)",
            zm,
            p6b,
            ok6b and ok_ring,
            n6b + "\n" + n_ring,
        )
    )

    # 7. n-gram top-k: Catalyst derives the two-phase top-k
    # (WindowGroupLimit Partial before the exchange) from the
    # declarative rank<=k filter; whole pipeline JVM-side
    from streetview_naturevisibility_spark.operators.corpus import ngram_topk

    ng = ngram_topk(docs, group_col="lang", n=3, k=5)
    p7 = plan_of(ng)
    ok7, n7 = check(
        "ngram topk",
        p7,
        must=["WindowGroupLimit", "HashAggregate"],
        must_not=["ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
    )
    sections.append(
        (
            "N-gram top-k: partial WindowGroupLimit (auto two-phase top-k), zero Python",
            ng,
            p7,
            ok7,
            n7,
        )
    )

    # 8. video frame pipeline: payloads never shuffle — one MapInPandas
    # directly over the (filtered) source, zero exchanges in the plan
    from streetview_naturevisibility_spark.operators.multimodal import (
        synth_media,
        video_frame_features,
    )

    media = synth_media(spark, 30)
    vf = video_frame_features(media, every_ms=1000)
    p8 = plan_of(vf)
    ok8, n8 = check(
        "video frames",
        p8,
        must=["MapInPandas"],
        must_not=["Exchange", "CartesianProduct", "SortMergeJoin"],
    )
    sections.append(
        (
            "Video frame decode: payloads stay in place (MapInPandas, no Exchange)",
            vf,
            p8,
            ok8,
            n8,
        )
    )

    # 6c. the pipeline's gvi stage: the text is parsed only for the
    # pages a point snapped to, and the coordinate stage carries none
    import tempfile

    from streetview_naturevisibility_spark.fixtures.generate import write_fixtures
    from streetview_naturevisibility_spark.operators.gvi import score_snapped_points
    from streetview_naturevisibility_spark.operators.resume import read_parquet, run_stage
    from streetview_naturevisibility_spark.operators.sampling import sample_points
    from streetview_naturevisibility_spark.operators.tiling import hit_pages, prepare_pages

    _gtmp = tempfile.mkdtemp(prefix="explain_gvi_")
    fx = write_fixtures(os.path.join(_gtmp, "fx"), n_pages=200, n_roads=20)
    root = os.path.join(_gtmp, "ckpt")
    raw6c = read_parquet(spark, fx["web_pages"])
    pts6c = run_stage(
        spark, root, "sample_points",
        lambda: sample_points(read_parquet(spark, fx["roads"]), 50),
    )
    pages6c = run_stage(
        spark, root, "pages_prepared", lambda: prepare_pages(raw6c, keep_text=False)
    )
    snapped6c = run_stage(
        spark, root, "snapped",
        lambda: knn_snap(pts6c, pages6c).select(
            "point_id", "lon", "lat", "page_url", "snap_distance", "is_panoramic"
        ),
    )
    with aqe_off(spark):
        q6c = score_snapped_points(snapped6c, hit_pages(raw6c, snapped6c))
        p6c = plan_of(q6c)
        ok6c, n6c = gvi_stage_shape(
            q6c._jdf.queryExecution().executedPlan(),
            prepare_pages(raw6c, keep_text=False)._jdf.queryExecution().executedPlan(),
        )
    shutil.rmtree(_gtmp)
    sections.append(
        (
            "GVI stage: page text parsed above the hit-url semi-join, coordinate-only pages stage",
            q6c,
            p6c,
            ok6c,
            n6c,
        )
    )

    # 9. z-ordered scan: the morton interval predicate reaches the
    # parquet scan as a pushed filter (row-group min/max skipping)
    from streetview_naturevisibility_spark.sources.layout import (
        bbox_morton_interval,
        write_spatial_sorted,
    )

    _ztmp = tempfile.mkdtemp(prefix="explain_zorder_")
    zpath = os.path.join(_ztmp, "pages")
    write_spatial_sorted(
        D.spark_pages(spark, sf_dir).select("doc_id", "tile_x", "tile_y"),
        zpath,
        num_files=8,
    )
    zdf = spark.read.parquet(zpath)
    corner = zdf.agg(F.min("tile_x").alias("tx"), F.min("tile_y").alias("ty")).collect()[0]
    lo, hi = bbox_morton_interval(corner.tx, corner.tx + 1, corner.ty, corner.ty + 1)
    zq = zdf.where(F.col("_morton").between(lo, hi)).select("doc_id")
    p9 = plan_of(zq)
    ok9, n9 = check(
        "zorder scan pushdown",
        p9,
        must=["GreaterThanOrEqual(_morton", "LessThanOrEqual(_morton"],
        must_not=["ArrowEvalPython", "BatchEvalPython"],
    )
    sections.append(
        (
            "Z-ordered scan: morton interval pushed to parquet (row-group skipping)",
            zq,
            p9,
            ok9,
            n9,
        )
    )

    shutil.rmtree(_ztmp, ignore_errors=True)

    # 10. bigram-LM train+score: ONE unexecuted plan — the vocabulary
    # size rides in as a broadcast 1-row aggregate (no eager count on
    # the driver), both count tables broadcast-hash-join, corpus never
    # sort-merge-joins, all expressions JVM-side
    from streetview_naturevisibility_spark.operators.textops import (
        score_bigram_logprob,
        train_bigram_lm,
    )

    docs10 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    uni, bi, v = train_bigram_lm(docs10)
    lm = score_bigram_logprob(docs10, uni, bi, v)
    p10 = plan_of(lm)
    ok10, n10 = check(
        "bigram lm",
        p10,
        must=["BroadcastHashJoin"],
        must_not=["SortMergeJoin", "ArrowEvalPython", "BatchEvalPython"],
    )
    sections.append(
        (
            "Bigram-LM scoring: lazy broadcast V + broadcast count tables, no shuffle joins",
            lm,
            p10,
            ok10,
            n10,
        )
    )

    # 11. repetition signals (Gopher axes): EVERY feature is per-doc,
    # so the whole operator is one map-only Project over the scan —
    # no exchange, no join, no Python (the gram coverage is a per-row
    # array_sort + run-scan aggregate, not an explode+groupBy)
    from streetview_naturevisibility_spark.operators.textops import (
        paragraph_dedup,
        repetition_signals,
    )

    docs11 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rep = repetition_signals(docs11)
    p11 = plan_of(rep)
    ok11, n11 = check(
        "repetition signals",
        p11,
        must=["array_sort"],
        must_not=[
            "Exchange",
            "ArrowEvalPython",
            "BatchEvalPython",
            "CartesianProduct",
        ],
    )
    sections.append(
        (
            "Repetition signals: map-only sorted-run scan, zero shuffle/Python",
            rep,
            p11,
            ok11,
            n11,
        )
    )

    # 12. paragraph dedup: every shuffle keys on the md5 digest or the
    # doc id (long paragraphs never shuffle as join keys twice), no
    # Python, no cartesian
    pdd = paragraph_dedup(docs11)
    p12 = plan_of(pdd)
    ok12, n12 = check(
        "paragraph dedup",
        p12,
        must=["HashAggregate", "md5"],
        must_not=["ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
    )
    sections.append(
        (
            "Paragraph dedup: digest-keyed common-set agg + anti-join, zero Python",
            pdd,
            p12,
            ok12,
            n12,
        )
    )

    # 12b. chunk dedup: one digest-keyed aggregate (count + packed-min
    # canonical in the SAME agg), join back, per-row HOF rebuild — the
    # text never shuffles for the rebuild, no Python, no cartesian
    from streetview_naturevisibility_spark.operators.textops import chunk_dedup

    cdd = chunk_dedup(docs11, chunk_chars=64)
    p12b = plan_of(cdd)
    ok12b, n12b = check(
        "chunk dedup",
        p12b,
        must=["HashAggregate", "md5"],
        must_not=["ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
    )
    sections.append(
        (
            "Chunk dedup: digest-keyed count+canonical agg, HOF rebuild, zero Python",
            cdd,
            p12b,
            ok12b,
            n12b,
        )
    )

    # 12c. CDC chunk dedup: the same repeated-unit core as 12b on
    # content-defined chunks (eligibility filter before the digest agg)
    from streetview_naturevisibility_spark.operators.textops import chunk_dedup_cdc

    cdc = chunk_dedup_cdc(docs11)
    p12c = plan_of(cdc)
    ok12c, n12c = check(
        "cdc chunk dedup",
        p12c,
        must=["HashAggregate", "md5"],
        must_not=["ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
    )
    sections.append(
        (
            "CDC chunk dedup: digest-keyed count+canonical agg, HOF rebuild, zero Python",
            cdc,
            p12c,
            ok12c,
            n12c,
        )
    )

    # 13. token-budget select (bucketed): the corpus-sized side joins
    # the tiny per-bucket verdict frame via BROADCAST (never sort-merge
    # on the corpus), and the only corpus-side Window is the boundary-
    # bucket cumsum — no Python, no cartesian
    from streetview_naturevisibility_spark.operators.corpus import (
        token_budget_select,
    )

    # documents.parquet has no quality_score — n_chars is an orderable
    # stand-in; the plan shape is what's audited
    tbs = token_budget_select(
        docs11,
        {"en": 10_000, "de": 5_000},
        quality_col="n_chars",
        default_budget=100,
    )
    p13 = plan_of(tbs)
    ok13, n13 = check(
        "token budget select",
        p13,
        must=["BroadcastHashJoin", "Window"],
        must_not=[
            "SortMergeJoin",
            "ArrowEvalPython",
            "BatchEvalPython",
            "CartesianProduct",
        ],
    )
    sections.append(
        (
            "Token-budget select: broadcast verdicts, boundary-only corpus sort",
            tbs,
            p13,
            ok13,
            n13,
        )
    )

    # 14. URL curation: normalization/domain are pure codegen string
    # algebra; the rollup is ONE hash aggregate keyed on the domain —
    # no Python, no cartesian, no sort-merge
    from streetview_naturevisibility_spark.operators.corpus import domain_rollup

    pages14 = spark.createDataFrame(
        [(i, f"https://sub{i % 7}.example{i % 3}.com/p/{i}?utm_source=x&q={i}", "w " * 10)
         for i in range(100)],
        "doc_id: long, url: string, text: string",
    )
    dr = domain_rollup(pages14)
    p14 = plan_of(dr)
    ok14, n14 = check(
        "url domain rollup",
        p14,
        must=["HashAggregate"],
        must_not=[
            "SortMergeJoin",
            "ArrowEvalPython",
            "BatchEvalPython",
            "CartesianProduct",
        ],
    )
    sections.append(
        (
            "URL domain rollup: codegen normalization, one domain-keyed aggregate",
            dr,
            p14,
            ok14,
            n14,
        )
    )

    # 15. DSIR importance scoring (r7 shape): the per-doc bucket arrays
    # are computed once (md5 feature hashing) and checkpointed; the
    # n_buckets-double weight table rides in as ONE broadcast array row
    # (BroadcastNestedLoopJoin of a 1-row frame); scoring itself is a
    # map-only projection — the corpus-side explode, both count-table
    # broadcast hash joins and the per-doc-sum Exchange are GONE.
    from streetview_naturevisibility_spark.operators.textops import dsir_score

    docs15 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    target15 = docs15.where(F.col("lang") == "en").select("text")
    ds = dsir_score(docs15, target15, n_buckets=1024)
    p15 = plan_of(ds)
    ok15, n15 = check(
        "dsir score",
        p15,
        must=["BroadcastNestedLoopJoin", "Scan ExistingRDD"],
        must_not=[
            "SortMergeJoin",
            "ArrowEvalPython",
            "BatchEvalPython",
            "CartesianProduct",
            "Generate",
        ],
    )
    sections.append(
        (
            "DSIR importance scoring: checkpointed bucket arrays, broadcast "
            "weight-table row, map-only scoring (zero corpus Exchange)",
            ds,
            p15,
            ok15,
            n15,
        )
    )

    # 16. SemDeDup semantic dedup: pinned-centroid assignment is pure
    # Column math (no fit job, no UDF); the corpus shuffles on list_id
    # for the within-cluster pair join — no Python, no cartesian.
    from streetview_naturevisibility_spark.operators.similarity import semantic_dedup

    emb16 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    sd = semantic_dedup(emb16, threshold=0.92, n_lists=8, dim=64)
    p16 = plan_of(sd)
    ok16, n16 = check(
        "semantic dedup",
        p16,
        must=["HashAggregate"],
        must_not=[
            "ArrowEvalPython",
            "BatchEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ],
    )
    sections.append(
        (
            "SemDeDup: codegen centroid assignment, cluster-keyed pair join",
            sd,
            p16,
            ok16,
            n16,
        )
    )

    # 17. quality-classifier scoring (r7 shape, the dsir_score
    # restructure): the learned weight table rides in as ONE b-ordered
    # array in a 1-row broadcast (BroadcastNestedLoopJoin) and the
    # margin is a map-only aggregate over each doc's bucket array — no
    # gram explode, no per-doc-margin Exchange, feature hashing pure
    # codegen, no Python in the plan.
    import numpy as _np

    from streetview_naturevisibility_spark.operators.textops import (
        score_quality_classifier,
    )

    docs17 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    w17 = _np.zeros(512)
    w17[7] = 1.5
    w17[19] = -0.5
    qc = score_quality_classifier(docs17, w17, bias=-0.1)
    p17 = plan_of(qc)
    ok17, n17 = check(
        "clf score",
        p17,
        must=["BroadcastNestedLoopJoin"],
        must_not=[
            "SortMergeJoin",
            "ArrowEvalPython",
            "BatchEvalPython",
            "CartesianProduct",
            "Generate",
        ],
    )
    sections.append(
        (
            "Quality-classifier scoring: broadcast weight-array row, "
            "map-only margin (zero corpus Exchange)",
            qc,
            p17,
            ok17,
            n17,
        )
    )

    # 18. incremental SemDeDup: the stored-corpus side must scan ONLY
    # the batch's clusters — the literal isin reaches the parquet scan
    # as PartitionFilters; the batch-vs-corpus compare is one cogroup
    # (FlatMapCoGroupsInPandas), no join explosion.
    from streetview_naturevisibility_spark.operators.similarity import (
        build_ivf_index,
        semantic_dedup_incremental,
    )

    emb18 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    _itmp = tempfile.mkdtemp(prefix="explain_ivf_")
    try:
        idx18 = os.path.join(_itmp, "ivf_idx")
        build_ivf_index(emb18, idx18, n_lists=8)
        inc = semantic_dedup_incremental(emb18.limit(50), idx18, threshold=0.95)
        p18 = plan_of(inc)
    finally:
        shutil.rmtree(_itmp, ignore_errors=True)
    ok18, n18 = check(
        "incremental semdedup",
        p18,
        must=["PartitionFilters: [list_id#", "FlatMapCoGroupsInPandas"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    )
    sections.append(
        (
            "Incremental SemDeDup: corpus scan pruned to the batch's clusters, one cogroup",
            inc,
            p18,
            ok18,
            n18,
        )
    )

    # 19. fix_text: the whole repair chain is ONE map-only Project —
    # no exchange, no Python
    from streetview_naturevisibility_spark.operators.textops import fix_text

    docs19 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ft = fix_text(docs19)
    p19 = plan_of(ft)
    ok19, n19 = check(
        "fix text",
        p19,
        must=["Project"],
        must_not=[
            "Exchange",
            "ArrowEvalPython",
            "BatchEvalPython",
            "HashAggregate",
        ],
    )
    sections.append(
        ("fix_text: map-only repair chain, zero shuffle", ft, p19, ok19, n19)
    )

    # 20. k-means mean reduction (one Lloyd iteration's shuffle): the
    # LONG-FORM shape — posexplode -> groupBy(_lid, pos) -> avg — must
    # carry ONE aggregate expression regardless of embedding dim (the
    # wide per-dimension F.avg(v[i]) fan-out put k x dim codegen
    # aggregate columns in the plan). Assert: a single hash-partitioned
    # exchange on (_lid, pos), partial+final HashAggregate, and no
    # per-dim alias (m1/m17/...) anywhere in the plan text.
    import numpy as _np

    from streetview_naturevisibility_spark.operators.similarity import (
        make_assign_ccos_udf,
    )

    emb20 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents20 = _np.stack(
        [
            _np.asarray(r[0], dtype=_np.float64)
            for r in emb20.select("embedding").orderBy("vec_id").limit(4).collect()
        ]
    )
    ac20 = make_assign_ccos_udf(cents20)
    means20 = (
        emb20.select(F.col("embedding").alias("v"))
        .withColumn("_lid", ac20(F.col("v"))["list_id"])
        .select("_lid", F.posexplode("v").alias("pos", "val"))
        .groupBy("_lid", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("m"))
    )
    p20 = plan_of(means20)
    ok20, n20 = check(
        "kmeans long-form means",
        p20,
        must=["posexplode(", "HashAggregate", "hashpartitioning(_lid"],
        must_not=["m17#", "SortAggregate", "SortMergeJoin", "CartesianProduct"],
    )
    # exactly ONE exchange (the (_lid, pos) agg — assignment UDF and
    # explode are map-side) and exactly ONE ArrowEvalPython: a NULL
    # filter on _lid used to get pushed below the projection and
    # re-evaluated the assignment UDF (= a second matmul pass per
    # Lloyd iteration)
    n_ex = p20.count("+- Exchange")
    n_py = p20.count(") ArrowEvalPython")
    if n_ex != 1 or n_py != 1:
        ok20 = False
        n20 += (
            f"  - FAIL: expected 1 Exchange / 1 ArrowEvalPython, "
            f"found {n_ex} / {n_py}\n"
        )
    else:
        n20 += (
            "  - PASS: exactly 1 Exchange ((_lid, pos) aggregate) and "
            "1 ArrowEvalPython (single assignment matmul)\n"
        )
    sections.append(
        (
            "k-means mean reduction: long-form (_lid, pos) aggregate, dim-independent plan",
            means20,
            p20,
            ok20,
            n20,
        )
    )

    # 22. C4 cleaning: pure codegen Project, zero shuffle, zero Python
    from streetview_naturevisibility_spark.operators.textops import c4_clean

    q22 = c4_clean(docs)
    p22 = plan_of(q22)
    ok22, n22 = check(
        "c4_clean map-only generator",
        p22,
        must=["Generate", "inline(transform(array("],
        must_not=["Exchange", "Python", "SortAggregate"],
    )
    # single evaluation: the kept-line filter chain (identifiable by
    # its 'javascript' literal) must appear EXACTLY once — a plain
    # 6-column Project re-evaluates it per referencing column
    n_chain = p22.count("javascript")
    if n_chain != 1:
        ok22 = False
        n22 += f"  - FAIL: line-filter chain appears {n_chain}x (want 1)\n"
    else:
        n22 += "  - PASS: line-filter chain evaluated once (inline struct)\n"
    sections.append(
        (
            "C4 cleaning: line+page heuristics, one generator-evaluated struct",
            q22,
            p22,
            ok22,
            n22,
        )
    )

    # 23. BPE token count: ONE ArrowEvalPython (broadcast ranks, Arrow
    # batches), zero shuffle — a map-only stage at any corpus size
    from streetview_naturevisibility_spark.operators.tokenize import (
        bpe_token_count,
    )

    q23 = bpe_token_count(docs, [("t", "h"), ("th", "e</w>")])
    p23 = plan_of(q23)
    ok23, n23 = check(
        "bpe_token_count Arrow-batched map stage",
        p23,
        must=["ArrowEvalPython"],
        must_not=["Exchange", "BatchEvalPython", "SortAggregate"],
    )
    n_py23 = p23.count(") ArrowEvalPython")
    if n_py23 != 1:
        ok23 = False
        n23 += f"  - FAIL: expected 1 ArrowEvalPython, found {n_py23}\n"
    else:
        n23 += "  - PASS: exactly 1 ArrowEvalPython (encode kernel)\n"
    sections.append(
        ("BPE subword count: broadcast merges, zero shuffle", q23, p23, ok23, n23)
    )

    # 24. Bloom anti-join: only the Bloom-positive keys meet the done
    # set, and the batch's anti-join against those matches must be
    # hash-based, never a sort-merge or cartesian
    from streetview_naturevisibility_spark.operators import bloom
    from streetview_naturevisibility_spark.operators.bloom import (
        bloom_anti_join,
        build_bloom,
    )

    done24 = spark.range(0, 500).select(
        F.concat(F.lit("d"), F.col("id")).alias("digest")
    )
    bloom24 = build_bloom(done24, "digest", capacity=500, fpp=0.01)
    batch24 = docs.select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("digest")
    )
    with lazy(bloom):
        q24 = bloom_anti_join(batch24, done24, "digest", bloom24)
    p24 = plan_of(q24)
    ok24, n24 = check(
        "bloom anti-join residual",
        p24,
        must=["ArrowEvalPython", "LeftAnti"],
        must_not=["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
    )
    sections.append(
        (
            "Bloom-filter anti-join: broadcast-probe candidates, hash anti-join",
            q24,
            p24,
            ok24,
            n24,
        )
    )

    # 25. C4 span dedup: one md5(span) digest aggregate carries count +
    # packed-min canonical; join-back hash-based; codegen HOF rebuild —
    # the chunk_dedup shape on sentence units
    from streetview_naturevisibility_spark.operators.textops import (
        span_dedup_c4,
    )

    q25 = span_dedup_c4(docs)
    p25 = plan_of(q25)
    ok25, n25 = check(
        "span_dedup_c4 digest-agg shape",
        p25,
        must=["HashAggregate", "md5"],
        must_not=["SortMergeJoin", "CartesianProduct", "Python"],
    )
    sections.append(
        (
            "C4 three-sentence-span dedup: digest agg + codegen rebuild",
            q25,
            p25,
            ok25,
            n25,
        )
    )

    all_ok = all(s[3] for s in sections)

    out = ["# EXPLAIN audit — physical plans of the engine hot paths\n"]
    out.append(
        "Generated by `python tools/explain_audit.py`. Each section asserts\n"
        "plan properties; a FAIL here is a perf regression even when\n"
        "results stay correct.\n"
    )
    for title, _, plan, ok, notes in sections:
        out.append(f"\n## {title} — {'PASS' if ok else 'FAIL'}\n")
        out.append(notes + "\n")
        out.append("```\n" + plan[:4000] + ("\n… (truncated)\n" if len(plan) > 4000 else "") + "```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write("".join(out))
    print("ALL OK" if all_ok else "SOME CHECKS FAILED")
    raise SystemExit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
