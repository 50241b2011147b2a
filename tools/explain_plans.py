"""Dump `.explain("formatted")` physical plans of the engine's key queries
to PLANS.md, with a short commentary on what each plan MUST show (the
scale-readiness checklist: pushdown/pruning, broadcast vs shuffle joins,
partial aggregation, no driver-side loops in the hot path).

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    import __spark_entry__ as entry

    from exactextractr_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    qs = entry.queries()
    picks = {
        "zonal_mean_sum_count": (
            "Zonal stats, broadcast (feature-sequential) strategy",
            "One scan of the tile table -> mapInPandas kernel (features come "
            "via sc.broadcast, no join operator at all) -> partial+final "
            "HashAggregate. The shuffle carries one moments row per "
            "(feature, tile): independent of cell count. ReadSchema must "
            "show only the columns the kernel needs (bytes/w/h/caption); "
            "no Exchange before the kernel.",
        ),
        "zonal_mode_minority_variety": (
            "Frequency stats (mode/minority/variety)",
            "Kernel emits per-(feature,tile,value) partial sums (map-side "
            "combine of the groupBy(fid, v) shuffle); mode+minority+variety "
            "then FUSE into one groupBy(feature_id) aggregate via "
            "max_by/min_by over struct(sum_c, v) — single exchange, no "
            "window operators, no full-outer join chain (struct-ordered "
            "max_by compiles to a partial SortAggregate: the Sorts in this "
            "plan are per-partition locals inside the aggregate, not extra "
            "exchanges). Shuffle volume scales with distinct values, not "
            "covered cells.",
        ),
        "rasterize_argmax": (
            "rasterize_polygons (argmax burn-in)",
            "ONE groupBy(cell) aggregate: max_by(feature_id, struct(cov, "
            "-feature_id)) realizes the argmax with the lowest-id tie rule "
            "and sum(cov) the min_coverage gate in the same pass — a single "
            "Exchange on cell, partial aggregation before it, no window "
            "sort exchanges (the round-2 plan had two).",
        ),
        "embedding_dedup": (
            "Embedding-cosine near-dup dedup (greedy-by-id)",
            "Exact mode: id-ordered nested-loop pair scoring (JVM fold "
            "cosine); the pair stream feeds ONE aggregation that derives "
            "both the drop set (min(as_a)==0 ⇔ ever an id_b) and the "
            "neighbor counts, so the expensive pair computation runs "
            "exactly once — no checkpoint, no second scan. The LSH mode "
            "swaps the pair source for a (band, bucket) equi-join "
            "(similarity.band_key_udf) — never all-pairs at scale.",
        ),
        "candidate_tiles": (
            "Cover join (raster-sequential strategy), metadata only",
            "Feature bboxes explode into covering tile keys via Catalyst "
            "sequence arithmetic (no UDF), then an equi-join Catalyst can "
            "broadcast. This is the 10^12-tile path when the feature table "
            "itself is too big to broadcast.",
        ),
        "knn_ring": (
            "kNN ring expansion",
            "Each round is a distributed equi-join on the packed cell id; "
            "point cell ids are pure Catalyst arithmetic (shiftleft/bitwiseOR "
            "— visible in the Project node, not a Python UDF).",
        ),
        "ngram_jaccard": (
            "Exact n-gram Jaccard similarity join (df-capped)",
            "Entirely JVM-side: explode distinct n-grams (higher-order "
            "transform/slice functions, whole-stage codegen), document-"
            "frequency filter join (max_df stop-gram cap bounds the "
            "self-join fan-out at df^2 per gram), self-equi-join on gram, "
            "two aggregations. No Python anywhere; InMemoryTableScan on "
            "the filtered gram table (one tokenize pass for three "
            "consumers).",
        ),
        "minhash_dedup": (
            "MinHash + LSH near-dup dedup",
            "Signature kernel is one mapInPandas (vectorized SipHash + "
            "multiply-shift, localCheckpointed: referenced by both band sides and "
            "the re-attach); the band-bucket self-join shuffles only "
            "(id, band, bucket) — signature arrays are projected off "
            "before the exchange and re-attached after candidate dedup.",
        ),
        "image_resize_px": (
            "Multimodal decode->resize->re-encode",
            "Two mapInPandas stages over one LocalTableScan of the image "
            "table — no shuffle at all: resize and decode are per-image "
            "map work, the 100-TB shape is embarrassingly parallel.",
        ),
        "image_augment_px": (
            "Multimodal augmentation fan-out (decode->ops->re-encode)",
            "Same shuffle-free shape as the resize path: one mapInPandas "
            "emits all per-op rows (each image decoded ONCE for every op), "
            "a second decodes for the pixel check. At 100 TB the fan-out "
            "multiplies rows map-side only — partitioning and shuffle "
            "volume are untouched.",
        ),
        "line_stats": (
            "LineString named stats (length-weighted)",
            "Line kernel emits per-(feature, cell) length facts; the stat "
            "algebra is the shared freq machinery: groupBy(fid, v) partial+"
            "final aggregation, struct-ordering argmax for mode — shuffle "
            "scales with distinct values, not traversed cells.",
        ),
        "dedup_exact": (
            "Exact dedup",
            "Single hash aggregate on a normalized key; partial aggregation "
            "visible before the exchange.",
        ),
        "cosine_topk": (
            "Brute-force cosine top-k",
            "Broadcast of the query vectors, JVM-side F.aggregate/zip_with "
            "dot products, window top-k. The LSH variant (lsh_cosine) "
            "replaces the broadcast-cross with a (band, bucket) equi-join.",
        ),
        "gopher_quality": (
            "Gopher quality filter rules",
            "MUST be a single map-only stage: one parquet scan -> one "
            "Project of higher-order-function expressions (filter/aggregate "
            "over per-row word/line arrays) -> output. No Exchange, no "
            "Python — at 100 TB the quality filter costs exactly one pass "
            "over the corpus.",
        ),
        "doc_repetition": (
            "Intra-document repetition stats",
            "Same map-only shape: dup-line and top-2-gram metrics are "
            "sorted-array folds WITHIN each row (array_sort + aggregate), "
            "never an explode + groupBy(doc_id) — the naive plan would "
            "shuffle every line/gram of the corpus; this one shuffles "
            "nothing.",
        ),
        "simhash_dedup": (
            "SimHash hamming near-dup dedup",
            "Banded candidate join: each 64-bit hash explodes into "
            "(band_idx, band_val) keys via shiftrightunsigned arithmetic "
            "(Project, not Python), the self-equi-join shuffles only those "
            "slim triples, and bit_count(xor) filters exactly. bands > "
            "max_hamming makes candidate recall 1.0 by pigeonhole — an "
            "EXACT near-dup join that never goes all-pairs. The hash "
            "frame (16 B/row) is checkpointed so the Python signature "
            "stage runs once; survivor selection is ONE aggregation over "
            "the pair stream (drop set + neighbor counts together), so "
            "the candidate join itself is never recomputed or "
            "checkpointed.",
        ),
    }

    for name, (title, commentary) in picks.items():
        df = qs[name](spark, SF_DIR)
        sections.append(f"## {title} (`{name}`)\n\n{commentary}\n\n```\n{plan_of(df)}```\n")

    # zonal_weighted both sides of the weight-broadcast size gate: below it
    # the weight-list join is hinted broadcast; above it the hint is
    # DROPPED and the join shuffles (no BroadcastExchange of weight tile
    # payloads — the round-3 scale-killer).
    import exactextractr_spark.operators.zonal as zmod

    df = qs["zonal_weighted"](spark, SF_DIR)
    sections.append(
        "## Weighted zonal, weight raster BELOW the broadcast gate "
        "(`zonal_weighted`)\n\n"
        "The sf0.1 weight raster shares the value grid AND tiling, so "
        "the ALIGNED fast path runs: weight tile (r, c) equi-joins value "
        "tile (r, c) directly (no explode, no collect_list regroup), "
        "broadcast-hinted below the size gate. Other weight grids build "
        "the same per-value-tile lists from the weight side: each weight "
        "tile explodes over the value tiles it overlaps and one groupBy "
        "collects them, then the lists join on (tile_row, tile_col); "
        "there the gate counts a weight tile once per list it can land "
        "in.\n\n"
        f"```\n{plan_of(df)}```\n"
    )
    old_gate = zmod.WEIGHT_BROADCAST_MAX_BYTES
    old_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    zmod.WEIGHT_BROADCAST_MAX_BYTES = 0
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = qs["zonal_weighted"](spark, SF_DIR)
        sections.append(
            "## Weighted zonal, weight raster ABOVE the broadcast gate\n\n"
            "Same query with WEIGHT_BROADCAST_MAX_BYTES forced to 0 (and "
            "AQE auto-broadcast off so the strategy choice is visible): "
            "the weight-list join becomes a SortMergeJoin on the value "
            "tile index (for every weight grid: the aligned lists and the "
            "grouped ones share that key) — a 100x-larger weight raster "
            "shuffles instead "
            "of OOM-ing the executors with a payload broadcast.\n\n"
            f"```\n{plan_of(df)}```\n"
        )
    finally:
        zmod.WEIGHT_BROADCAST_MAX_BYTES = old_gate
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_auto)

    df = qs["zonal_stack"](spark, SF_DIR)
    sections.append(
        "## Multi-layer stack, union single-scan path (`zonal_stack`)\n\n"
        "Layers from SEPARATE tile tables on one grid union into ONE "
        "kernel pass (rows tagged by layer) and ONE aggregate + pivot — "
        "the plan shows a Union feeding a single MapInPandas, not two "
        "kernel/aggregate chains joined at the end.\n\n"
        f"```\n{plan_of(df)}```\n"
    )

    out = (
        "# Physical plans of the headline queries\n\n"
        "Generated by `python tools/explain_plans.py` (Spark "
        f"{spark.version}, `.explain('formatted')`). The commentary above "
        "each plan states what the plan must show for the 100-TB scale "
        "story; regenerate after plan-affecting changes.\n\n"
        + "\n".join(sections)
    )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(out)
    print(f"PLANS.md written ({len(out)} bytes, {len(sections)} plans)")


if __name__ == "__main__":
    main()
