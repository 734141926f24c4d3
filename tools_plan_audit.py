#!/usr/bin/env python
"""Physical-plan audit -> PLANS.md.

Captures ``explain("formatted")`` for the engine's key jobs and asserts the
plan properties the 100 TB design depends on:

* parquet scans prune to the needed columns (ReadSchema);
* every probe runs its per-cell kernels in one MapInPandas directly over
  the cell rows (in session: the cached cell-keyed relation, with no
  second Exchange and no Sort; tiled: the partition-pruned scan);
* a batch whose routed rows fit ``core.ONE_TASK_MAX_ROWS`` (a single
  query) probes and merges in one task: one MapInPandas over a
  ``Coalesce 1`` of the cell rows, with no exchange of any kind;
* over that bound, count and point merges are one aggregation (one
  exchange, no join) and kNN one per-query merge;
* the table x table joins are one band-co-located kernel (one exchange
  on the latitude band, no join, no window);
* relational glue runs in WholeStageCodegen;
* the small dimension sides are broadcast.
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import contextmanager, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def plan_of(df) -> str:
    """The formatted plan, with temporary directory paths and exchange
    plan ids (a session-wide counter) replaced by fixed placeholders so
    PLANS.md only changes when a plan does."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = re.sub(re.escape(tempfile.gettempdir()) + r"/tmp\w+", "<tmpdir>", buf.getvalue())
    return re.sub(r"\[plan_id=\d+\]", "[plan_id=<n>]", plan)


def plan_tree(plan: str) -> str:
    """The node tree of a formatted plan (each node once, without the
    per-node detail that follows it)."""
    return plan.split("== Physical Plan ==")[-1].split("\n\n")[0]


def literal_tables_local(plan: str) -> str:
    """Marker when the query-batch tables are JVM LocalTableScans, never a
    ``Scan ExistingRDD`` over Python rows (which starts Python tasks in a
    job that has no Python kernel to run)."""
    if "LocalTableScan" in plan and "Scan ExistingRDD" not in plan:
        return "\n-- audit: literal-tables-local (query tables are LocalTableScans)\n"
    return ""


@contextmanager
def over_bound():
    """Plan the queries inside as batches over the one-task bound (the
    audit's inputs are too small to exceed it)."""
    from learnedspatial_spark import core
    bound = core.ONE_TASK_MAX_ROWS
    core.ONE_TASK_MAX_ROWS = -1
    try:
        yield
    finally:
        core.ONE_TASK_MAX_ROWS = bound


def query_nodes(plan: str) -> list[str]:
    """Node names of the query's own plan tree, in tree order: a cached
    relation's build plan is skipped."""
    names, skip = [], None
    for line in plan_tree(plan).splitlines():
        col = re.match(r"[\s:|+*-]*", line).end()
        if skip is not None and col > skip:
            continue
        skip = None
        name = re.match(r"\w*", line[col:]).group(0)
        if name == "InMemoryRelation":
            skip = col
        names.append(name)
    return names


def one_task_stage(plan: str) -> str:
    """Marker when a merged query is one stage: its one MapInPandas reads
    a ``Coalesce 1`` of the cell rows, and the query's own plan has no
    Exchange, not even a broadcast."""
    nodes = query_nodes(plan)
    if (nodes.count("MapInPandas") == 1
            and nodes[nodes.index("MapInPandas") + 1:][:1] == ["Coalesce"]
            and re.search(r"\) Coalesce\nInput [^\n]*\nArguments: 1\n", plan)
            and not any(n.endswith("Exchange") for n in nodes)):
        return ("\n-- audit: one-task-stage (one MapInPandas over Coalesce 1 probes and "
                "merges; no exchange, no broadcast)\n")
    return ""


def probe_in_place(plan: str) -> str:
    """Marker when the plan's one MapInPandas probe reads the cached
    relation directly: only the InSet gate's Filter may sit between it
    and the InMemoryTableScan, so no Sort or Exchange runs under it."""
    nodes = re.findall(r"^[\s:|+*-]*(\w+)", plan_tree(plan), re.M)
    if nodes.count("MapInPandas") == 1:
        below = nodes[nodes.index("MapInPandas") + 1:]
        if below[:1] == ["InMemoryTableScan"] or below[:2] == ["Filter", "InMemoryTableScan"]:
            return "\n-- audit: probe-in-place (MapInPandas over the cached scan; no Sort, no Exchange)\n"
    return ""


def one_exchange_merge(plan: str) -> str:
    """Marker when the query's own plan tree (a cached relation's build
    plan excluded) holds exactly one Exchange and no join or broadcast:
    the probe's partials merge in one aggregation."""
    names = query_nodes(plan)
    if (names.count("Exchange") == 1 and "BroadcastExchange" not in names
            and not any(n.endswith("Join") for n in names)):
        return "\n-- audit: one-exchange-merge (one aggregation merges the probe; no join, no broadcast)\n"
    return ""


def probe_shuffle_free(plan: str, merges: int) -> str:
    """Marker when the plan's only shuffle Exchanges are its ``merges``
    per-query merges: the probe itself reads the pruned scan in place.
    Formatted plans list each node twice (tree + detail); a
    BroadcastExchange of a small query table is not a shuffle."""
    if len(re.findall(r"\bExchange", plan)) == 2 * merges:
        return "\n-- audit: probe-shuffle-free (only the per-query merge exchanges)\n"
    return ""


def band_colocated(plan: str) -> str:
    """Marker when a table join is one band-co-located plan: exactly one
    Exchange, hash-partitioned on the band key, feeding one MapInPandas
    kernel, with no join, no BroadcastExchange and no Window or
    WindowGroupLimit."""
    nodes = re.findall(r"^[\s:|+*-]*(\w+)", plan_tree(plan), re.M)
    if (nodes.count("Exchange") == 1 and nodes.count("MapInPandas") == 1
            and re.search(r"Arguments: hashpartitioning\(band#\d+", plan)
            and not any(n.endswith("Join") or n in ("BroadcastExchange", "Window", "WindowGroupLimit")
                        for n in nodes)):
        return ("\n-- audit: band-colocated (one hash exchange on the latitude band, one "
                "MapInPandas kernel; no join, no broadcast, no window)\n")
    return ""


def main() -> None:
    from pyspark.sql import functions as F

    from learnedspatial_spark.engine import SpatialEngine
    from learnedspatial_spark.operators import dedup, similarity
    from learnedspatial_spark.session import get_spark
    from learnedspatial_spark.sources import workloads as wl

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plan-audit", master="local[8]", shuffle_partitions=16)
    eng = SpatialEngine(spark, sf, scheme="fixed_grid")
    pts = eng.assigned_points().cache()
    pts.count()
    eng.fit_models()
    rects = wl.rectangles(n_per_tier=5)
    sections: list[tuple[str, str, list[str]]] = []

    p1 = plan_of(eng.range_count(rects[:1]))
    p1 += one_task_stage(p1)
    sections.append(("range_count single query (one task: probe and merge)", p1, [
        "one-task-stage"]))
    with over_bound():
        p = plan_of(eng.range_count(rects))
    p += probe_in_place(p) + one_exchange_merge(p)
    sections.append(("range_count over the one-task bound (learned, fixed grid)", p, [
        "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice",
        "MapInPandas",
        "probe-in-place",
        "one-exchange-merge",
    ]))
    # a point lookup is the range probe over degenerate rectangles, merged
    # by one min(id) aggregation beside the query table
    from learnedspatial_spark.sources.points import points_np
    with over_bound():
        p2 = plan_of(eng.point_lookup(
            wl.point_queries(*points_np(sf)[1:3], n_hits=5, n_misses=2)))
    p2 += one_exchange_merge(p2) + literal_tables_local(p2)
    sections.append(("point_lookup over the one-task bound (degenerate range probe, "
                     "one aggregation)", p2, [
        "MapInPandas", "one-exchange-merge", "literal-tables-local"]))
    p3 = plan_of(similarity.brute_cosine_topk(
        spark.read.parquet(f"{sf}/embeddings.parquet"),
        similarity.query_vectors(spark, sf, n=4), k=5))
    # WindowGroupLimit = Spark 4 top-k pushdown (partial group-limit before the shuffle)
    sections.append(("ann brute cosine top-k", p3, ["BroadcastNestedLoopJoin", "WindowGroupLimit"]))
    p4 = plan_of(dedup.dedup_exact(spark.read.parquet(f"{sf}/documents.parquet")))
    sections.append(("dedup_exact (hash aggregate)", p4, ["HashAggregate", "ReadSchema: struct<doc_id:bigint,text:string>"]))

    # tiled (build-once/query-many) path: candidate cells must prune at the
    # parquet scan (PartitionFilters) and the probe must be shuffle-free:
    # a single query is one task, and over the bound the ONLY Exchange in
    # the plan is the final tiny per-query merge
    from learnedspatial_spark import datagen, pipeline
    from learnedspatial_spark.tiled import TiledSpatialEngine
    with tempfile.TemporaryDirectory() as td:
        pp = f"{td}/pages"
        datagen.pages_df(spark, 3000, partitions=4).write.parquet(pp)
        pipeline.build_tiled_index(spark, pp, f"{td}/idx", partition_size=200)
        teng = TiledSpatialEngine(spark, f"{td}/idx")
        for fam, single in (("range_count", teng.range_count([(0, -60.0, -120.0, 30.0, 45.0)])),
                            ("point_lookup", teng.point_lookup([(0, 10.0, 20.0)])),
                            ("knn", teng.knn([(0, 10.0, 20.0, 5)]))):
            p5s = plan_of(single)
            p5s += one_task_stage(p5s)
            sections.append((f"tiled {fam} single query (one task over the pruned scan)", p5s, [
                "PartitionFilters", "one-task-stage"]))
        with over_bound():
            p5 = plan_of(teng.range_count([(0, -60.0, -120.0, 30.0, 45.0),
                                           (1, 5.0, -170.0, 80.0, 170.0)]))
            p5k = plan_of(teng.knn(wl.knn_queries(n=4)))
        p5 += (probe_shuffle_free(p5, merges=1) + one_exchange_merge(p5)
               + literal_tables_local(p5))
        sections.append(("tiled range_count over the one-task bound (materialized index, "
                         "pruned scan)", p5, [
            "PartitionFilters",
            "MapInPandas",
            "probe-shuffle-free",
            "one-exchange-merge",
            "literal-tables-local",
        ]))
        # every family on the tiled source stays shuffle-free: kNN's one
        # exchange is its per-query top-k merge, distance_materialize has none
        p5k += probe_shuffle_free(p5k, merges=1)
        sections.append(("tiled knn over the one-task bound (pruned scan, per-query merge)", p5k, [
            "PartitionFilters", "MapInPandas", "probe-shuffle-free"]))
        p5d = plan_of(teng.distance_materialize(wl.distance_queries(n=4)))
        p5d += probe_shuffle_free(p5d, merges=0)
        sections.append(("tiled distance_materialize (pruned scan, no exchange)", p5d, [
            "PartitionFilters", "MapInPandas", "probe-shuffle-free"]))

    # production input path (north rule): pages -> points must prune the
    # scan to (url, text) — html (the fat binary column) stays unread when
    # the stored text is used — and the coordinate parse must be pure
    # Column logic (no Python eval node of any kind in this plan)
    from learnedspatial_spark import datagen as _dg
    from learnedspatial_spark import extract as _ex
    with tempfile.TemporaryDirectory() as _td:
        _pp = f"{_td}/pages"
        _dg.pages_df(spark, 500, partitions=2).write.parquet(_pp)
        p_pts = plan_of(_ex.points_from_pages(spark.read.parquet(_pp)))
        m = re.search(r"ReadSchema: ([^\n]*)", p_pts)
        if m and "html" not in m.group(1) and "url" in m.group(1) and "text" in m.group(1):
            p_pts += "\n-- audit: html-pruned-scan (points derivation reads url+text only)\n"
        if "EvalPython" not in p_pts:
            p_pts += "-- audit: column-only-parse (no Python eval node; regexp+cast in codegen)\n"
        sections.append(("points_from_pages (production extraction path)", p_pts, [
            "html-pruned-scan",
            "column-only-parse",
        ]))

    # kNN over the one-task bound: the per-cell partial top-ks (the one
    # MapInPandas probe) merge per QUERY in one FlatMapGroupsInPandas (the
    # associative reduce the partials were designed for) — never a Window
    # row_number over the full partial set (that would shuffle-sort every
    # partial through one global stage) and never a SinglePartition exchange
    with over_bound():
        p_knn = plan_of(eng.knn(wl.knn_queries(n=8)))
    t_knn = plan_tree(p_knn)
    if len(re.findall(r"\bMapInPandas\b", t_knn)) == 1 \
            and len(re.findall(r"\bFlatMapGroupsInPandas\b", t_knn)) == 1 \
            and "SinglePartition" not in p_knn and re.search(r"\bWindow\b", p_knn) is None:
        p_knn += ("\n-- audit: partials-merge-no-window (one MapInPandas probe + one "
                  "per-query FlatMapGroupsInPandas merge; no window, no single partition)\n")
    p_knn += probe_in_place(p_knn)
    sections.append(("knn over the one-task bound (stats-pruned cells, partial top-k merge)",
                     p_knn, [
        "partials-merge-no-window",
        "probe-in-place",
    ]))

    # STR assignment: the global (x, y, pid) rank must be the bucketed
    # two-phase plan (operators/ranking.py) — a bare Window.orderBy would
    # show up as an `Exchange SinglePartition`, the 100 TB scale-killer
    seng = SpatialEngine(spark, sf, scheme="str")
    p6 = plan_of(seng.assigned_points())
    if "SinglePartition" not in p6:
        p6 += "\n-- audit: no-single-partition-exchange (bucketed global rank)\n"
    sections.append(("str tile assignment (bucketed global rank)", p6, [
        "no-single-partition-exchange",
        "Window",
    ]))

    # simhash: the lane-packed wide aggregation must stay inside
    # whole-stage codegen (the naive 64-string-probe form was the perf
    # sink of round 2) with ONE data shuffle (partial -> final agg)
    # codegen ids only exist on the EXECUTED final plan (AQE), and wide
    # plans truncate toString by default (hides the *(n) markers)
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    sdf = dedup.simhash_md5_table(spark.read.parquet(f"{sf}/documents.parquet"))
    sdf.collect()
    p7 = sdf._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    if len(re.findall(r"\bExchange", p7)) == 1:
        p7 += "\n-- audit: single-shuffle (one partial->final aggregation exchange)\n"
    if re.search(r"\*\(\d+\) HashAggregate", p7):
        p7 += "-- audit: aggregate-in-codegen (lane-packed sums compile)\n"
    sections.append(("simhash_md5_table (lane-packed codegen aggregation)", p7, [
        "single-shuffle",
        "aggregate-in-codegen",
    ]))

    # graded dedup/ANN scale paths: candidates must form via equi-joins /
    # bucket aggregations — never a corpus self-cross-join
    docs_df = spark.read.parquet(f"{sf}/documents.parquet")
    p8 = plan_of(dedup.minhash_md5_pairs(docs_df, threshold=0.5))
    if "BroadcastNestedLoopJoin" not in p8 and "CartesianProduct" not in p8:
        p8 += "\n-- audit: no-corpus-self-join (bucket pairs + hash equi-join refine)\n"
    sections.append(("minhash_md5_pairs (bucketed near-dup, equi-join refine)", p8, [
        "no-corpus-self-join",
    ]))
    # connected-components round (neardup_clusters kernel): every round
    # must be keyed equi-joins over the checkpointed label table — never a
    # cartesian — and the convergence probe a join-free filter
    import pandas as pd
    cc_edges = spark.createDataFrame(pd.DataFrame(
        {"doc_a": [1, 2, 2, 3, 7, 8], "doc_b": [2, 1, 3, 2, 8, 7]})
    ).localCheckpoint(eager=True)
    cc_lab = (cc_edges.select(F.col("doc_a").alias("doc_id")).distinct()
              .select("doc_id", F.col("doc_id").alias("lbl"))
              .localCheckpoint(eager=True))
    cc_stepped = dedup._cc_step(cc_edges, cc_lab)
    p10 = plan_of(cc_stepped)
    p10b = plan_of(dedup._cc_jump(cc_stepped.localCheckpoint(eager=True)))
    p10c = plan_of(dedup._cc_jump(cc_stepped.localCheckpoint(eager=True))
                   .localCheckpoint(eager=True)  # as in the kernel loop
                   .where(F.col("lbl") != F.col("old")))
    both = p10 + p10b
    if "BroadcastNestedLoopJoin" not in both and "CartesianProduct" not in both:
        p10 += "\n-- audit: equi-join-rounds (propagation + jump are keyed joins, no cartesian)\n"
    if re.search(r"\bJoin", p10c.split("== Physical Plan ==")[-1]) is None:
        p10 += "-- audit: join-free-probe (changed-row check is a filter on the checkpointed round)\n"
    sections.append(("connected_components round (neardup_clusters kernel)",
                     p10 + "\n-- jump half-round --\n" + p10b, [
        "equi-join-rounds",
        "join-free-probe",
    ]))

    emb_df = spark.read.parquet(f"{sf}/embeddings.parquet")
    p9 = plan_of(similarity.ivf_topk(
        emb_df, similarity.query_vectors(spark, sf, n=4), k=5,
        centroids=similarity.ivf_fit_centroids(
            __import__("numpy").asarray(
                [r["embedding"] for r in emb_df.limit(256).collect()], dtype=float), 8)))
    if "BroadcastNestedLoopJoin" not in p9 and "CartesianProduct" not in p9:
        p9 += "\n-- audit: inverted-list-equi-join (no all-pairs scoring)\n"
    sections.append(("ivf_topk (inverted-list ANN)", p9, [
        "inverted-list-equi-join",
    ]))

    # corpus-pipeline ops (round 3): decontamination must broadcast the
    # tiny eval side (the corpus is scanned once; only the per-doc distinct
    # count shuffles), the vocabulary top-k must be TakeOrdered (partial
    # per-partition top-k, never a global sort), and the mix sample must be
    # a shuffle-free codegen scan->filter
    from learnedspatial_spark.operators import corpus
    p11 = plan_of(corpus.contamination_hits(docs_df))
    if "BroadcastHashJoin" in p11 and "SortMergeJoin" not in p11:
        p11 += "\n-- audit: broadcast-eval-join (eval grams broadcast; corpus side never shuffles for the join)\n"
    sections.append(("contamination_hits (broadcast eval semi-join)", p11, [
        "broadcast-eval-join",
        "HashAggregate",
    ]))
    # word-level scale path (round 4): identical broadcast shape, but the
    # Generate explodes one row per WORD position (vs per char position) —
    # the property that makes it the 100 TB variant
    p11w = plan_of(corpus.contamination_hits_words(docs_df))
    if "BroadcastHashJoin" in p11w and "SortMergeJoin" not in p11w:
        p11w += "\n-- audit: broadcast-eval-join (eval grams broadcast; corpus side never shuffles for the join)\n"
    if re.search(r"explode\(sequence\(1, greatest\(\(size\(ws", p11w):
        p11w += "-- audit: word-position-explode (one generated row per word position, not per char)\n"
    sections.append(("contamination_hits_words (word-gram scale path)", p11w, [
        "broadcast-eval-join",
        "word-position-explode",
        "HashAggregate",
    ]))
    p12 = plan_of(corpus.vocab_stats_topk(docs_df))
    if "TakeOrderedAndProject" in p12 and "Sort " not in p12:
        p12 += "\n-- audit: partial-topk (TakeOrderedAndProject, no global sort)\n"
    sections.append(("vocab_stats_topk (wordcount + partial top-k)", p12, [
        "partial-topk",
    ]))
    p13 = plan_of(corpus.mix_sample(docs_df))
    if "Exchange" not in p13 and "codegen id" in p13:
        p13 += "\n-- audit: shuffle-free-sample (stateless per-row keep rule, all codegen)\n"
    sections.append(("mix_sample (deterministic stratified sample)", p13, [
        "shuffle-free-sample",
    ]))
    # repetition signals: pure generate -> two hash aggregations; never a
    # join, never a window — exactly the (doc_id, gram) and doc_id
    # partial->final exchanges (formatted plans list each node twice)
    p14 = plan_of(corpus.repetition_stats(docs_df))
    if (re.search(r"\bJoin|CartesianProduct|\bWindow\b", p14) is None
            and len(re.findall(r"\bExchange", p14)) <= 4):
        p14 += "\n-- audit: two-agg-no-join (generate -> (doc_id,gram) agg -> doc_id agg)\n"
    sections.append(("repetition_stats (Gopher repetition signals)", p14, [
        "two-agg-no-join",
        "HashAggregate",
        "Generate",
    ]))
    # span dedup: occurrence counts via groupBy(gh) + equi-join back on the
    # md5 DIGEST (shuffles digests, not span text), never a window — a
    # corpus-frequent span would form an unsplittable window partition,
    # while the hot key here map-side-combines and the join is AQE
    # skew-splittable; no cartesian anywhere
    p15 = plan_of(corpus.span_dedup_stats(docs_df))
    if (re.search(r"BroadcastNestedLoopJoin|CartesianProduct|\bWindow\b", p15) is None
            and re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", p15) is not None
            and re.search(r"Left keys \[1\]: \[gh", p15) is not None):
        p15 += "\n-- audit: digest-equi-join-no-window (skew-splittable counts join on the md5 digest)\n"
    sections.append(("span_dedup_stats (cross-doc span dedup)", p15, [
        "digest-equi-join-no-window",
        "HashAggregate",
    ]))

    # table x table joins: each is one band-co-located kernel — the JVM
    # computes only the latitude band, one exchange co-locates each band
    # with its neighbours' copies, and the NumPy kernel searches, refines
    # and (kNN) ranks; no blocked equi-join, no broadcast, no window
    from learnedspatial_spark.operators.distjoin import distance_join_pairs, knn_join
    from learnedspatial_spark.sources.points import points_df as _points_df
    _pdf = _points_df(spark, sf)
    p16 = plan_of(distance_join_pairs(_pdf, 25000.0))
    p16 += band_colocated(p16)
    sections.append(("distance_join_pairs (band-co-located within-radius join)", p16, [
        "band-colocated",
        "MapInPandas",
    ]))
    p17 = plan_of(knn_join(_pdf.where(F.col("pid") % 10 == 0), _pdf, 3, 100000.0))
    p17 += band_colocated(p17)
    sections.append(("knn_join_radius (band-co-located kNN join, in-kernel top-k)", p17, [
        "band-colocated",
        "MapInPandas",
    ]))

    lines = ["# PLANS — physical plan audit (auto-generated by tools_plan_audit.py)",
             "", f"Input: {sf}.  Checked properties are asserted at generation time.", ""]
    ok_all = True
    for title, plan, required in sections:
        checks = []
        for r in required:
            hit = r.split(":")[0] in plan if r.startswith("ReadSchema") else r in plan
            if r.startswith("ReadSchema"):
                hit = "ReadSchema" in plan
            checks.append((r, hit))
            ok_all &= hit
        lines.append(f"## {title}")
        lines.append("")
        for r, hit in checks:
            lines.append(f"- {'[x]' if hit else '[ ] MISSING'} `{r.split(':')[0]}`")
        lines.append("")
        lines.append("```")
        lines.append(plan.strip()[:4000])
        lines.append("```")
        lines.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print("PLANS.md written; all checks pass:", ok_all)
    spark.stop()


if __name__ == "__main__":
    main()
