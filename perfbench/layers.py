"""Per-layer metrics, derived from the traced run's spans.

``LAYERS`` is the map later performance work cites: for each layer (the
``geowave_spark`` module measured from outside), its metrics and the
end-to-end metric and workload each should move.  Every per-layer value is
taken over the timed phase and expressed per call of that layer (means of
durations, counts and bytes; ratios as sums over sums), except
``session.start_s`` and ``index_select.layouts_s``, which come from set-up,
and ``jvm.peak_heap_mb``, the peak over set-up and the timed phase.
A layer a workload never calls reports 0.  Span names are
``<layer>.<public call>``.
"""

from __future__ import annotations

import statistics

BATCH, QUERIES = "batch_analytics", "indexed_queries"

# layer -> (module(s), [(metric, unit)], [(end-to-end metric, workload)])
LAYERS = {
    "spark": ("engine-wide, every workload",
              [("spark.jobs", "count"), ("spark.task_s", "s"), ("spark.driver_only_s", "s"),
               ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B")],
              [("rows_per_s", BATCH), ("query_p50_s", QUERIES)]),
    "session": ("geowave_spark.session",
                [("session.start_s", "s")],
                [("setup_s", BATCH), ("setup_s", QUERIES)]),
    "indexing": ("geowave_spark.operators.indexing + geowave_spark.sfc",
                 [("indexing.encode_s", "s"), ("indexing.python_udf_s", "s")],
                 [("rows_per_s", BATCH), ("setup_s", QUERIES)]),
    "tables": ("geowave_spark.sources.tables",
               [("tables.write_s", "s"), ("tables.bytes_per_row", "B/row"), ("tables.scan_s", "s")],
               [("rows_per_s", BATCH), ("setup_s", QUERIES)]),
    "spatial_join": ("geowave_spark.operators.spatial_join",
                     [("spatial_join.pip_s", "s"), ("spatial_join.candidate_rows", "count"),
                      ("spatial_join.accept_ratio", "ratio"), ("spatial_join.python_udf_s", "s"),
                      ("spatial_join.shuffle_bytes", "B"), ("spatial_join.task_skew", "ratio")],
                     [("rows_per_s", BATCH)]),
    "kde": ("geowave_spark.operators.kde",
            [("kde.pyramid_s", "s"), ("kde.shuffle_bytes", "B")],
            [("rows_per_s", BATCH)]),
    "regionize": ("geowave_spark.operators.regionize + dedup connected_components",
                  [("regionize.label_s", "s"), ("regionize.jobs", "count"),
                   ("regionize.driver_only_s", "s")],
                  [("rows_per_s", BATCH)]),
    "knn": ("geowave_spark.operators.knn",
            [("knn.join_s", "s"), ("knn.jobs", "count"), ("knn.driver_only_s", "s")],
            [("rows_per_s", BATCH)]),
    "hotspot": ("geowave_spark.operators.hotspot",
                [("hotspot.colocation_s", "s"), ("hotspot.candidate_rows", "count"),
                 ("hotspot.task_skew", "ratio"), ("hotspot.shuffle_bytes", "B")],
                [("rows_per_s", BATCH)]),
    "index_select": ("geowave_spark.plans.index_select + geowave_spark.plans.cql_route",
                     [("index_select.layouts_s", "s"), ("index_select.plan_s", "s"),
                      ("index_select.exec_s", "s"), ("index_select.rows_scanned_per_row", "ratio")],
                     [("query_p50_s", QUERIES), ("query_p90_s", QUERIES), ("setup_s", QUERIES)]),
    "jvm": ("the Spark driver JVM (heap used, sampled every 0.5 s)",
            [("jvm.peak_heap_mb", "MB")],
            [("peak_rss_mb", BATCH), ("peak_rss_mb", QUERIES)]),
    "trace": ("the benchmark's tracer itself",
              [("trace.overhead_s", "s"), ("trace.op_s", "s")],
              []),
}

METRICS = [m for _, ms, _ in LAYERS.values() for m in ms]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _mean(vals) -> float:
    vals = list(vals)
    return sum(vals) / len(vals) if vals else 0.0


def _ratio(num, den) -> float:
    den = sum(den)
    return sum(num) / den if den else 0.0


def derive(spans: list[dict], session_start_s: float, overhead_s: float, ops: int,
           op_s: float, peak_heap_mb: float) -> dict[str, float]:
    timed = [s for s in spans if s.get("phase") == "timed"]
    ids = {s["id"] for s in timed}
    top = [s for s in timed if s["parent"] not in ids]
    setup = [s for s in spans if s.get("phase") == "setup"]

    def named(name, pool=timed):
        return [s for s in pool if s["name"] == name]

    def field(pool, key):
        return [s.get(key, 0.0) for s in pool]

    children: dict[int, list[dict]] = {}
    for s in timed:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in children.get(s["id"], []):
            out += subtree(c)
        return out

    def driver_only(s):
        iv = [(max(a, s["start"]), min(b, s["end"])) for t in subtree(s)
              for a, b in t.get("job_intervals", []) if b > s["start"] and a < s["end"]]
        return max(0.0, s["wall_s"] - union_length(iv))

    write = named("tables.write_indexed")
    layouts = named("index_select.prepare_layouts", setup)
    pip = named("spatial_join.pip_join") + named("spatial_join.zonal_stats")
    region, knn = named("regionize.region_label"), named("knn.knn_join_adaptive")
    coloc = named("hotspot.colocation_pi")
    queries = named("index_select.query")
    n = max(ops, 1)
    return {
        "spark.jobs": sum(field(timed, "jobs")) / n,
        "spark.task_s": sum(field(timed, "task_s")) / n,
        "spark.driver_only_s": sum(driver_only(s) for s in top) / n,
        "spark.shuffle_write_bytes": sum(field(timed, "shuffle_write_bytes")) / n,
        "spark.spill_bytes": sum(field(timed, "spill_bytes")) / n,
        "session.start_s": session_start_s,
        "indexing.encode_s": _mean(s["encode_s"] for s in named("indexing.with_point_cells")
                                   if "encode_s" in s),
        "indexing.python_udf_s": _mean(field(write or layouts, "python_udf_s")),
        "tables.write_s": _mean(field(write, "wall_s")),
        "tables.bytes_per_row": _ratio(field(write, "written_bytes"), field(write, "written_rows")),
        "tables.scan_s": _mean(field(named("spatial_join.pip_join"), "scan_s")),
        "spatial_join.pip_s": _mean(field(pip, "wall_s")),
        "spatial_join.candidate_rows": _mean(s["candidate_rows"] for s in pip
                                             if "candidate_rows" in s),
        "spatial_join.accept_ratio": _ratio(
            [s["output_rows"] for s in pip if "candidate_rows" in s],
            [s["candidate_rows"] for s in pip if "candidate_rows" in s]),
        "spatial_join.python_udf_s": _mean(field(pip, "python_udf_s")),
        "spatial_join.shuffle_bytes": _mean(field(pip, "shuffle_write_bytes")),
        "spatial_join.task_skew": _mean(field(pip, "task_skew")),
        "kde.pyramid_s": _mean(field(named("kde.kde_pyramid"), "wall_s")),
        "kde.shuffle_bytes": _mean(field(named("kde.kde_pyramid"), "shuffle_write_bytes")),
        "regionize.label_s": _mean(field(region, "wall_s")),
        "regionize.jobs": _mean(field(region, "jobs")),
        "regionize.driver_only_s": _mean(driver_only(s) for s in region),
        "knn.join_s": _mean(field(knn, "wall_s")),
        "knn.jobs": _mean(field(knn, "jobs")),
        "knn.driver_only_s": _mean(driver_only(s) for s in knn),
        "hotspot.colocation_s": _mean(field(coloc, "wall_s")),
        "hotspot.candidate_rows": _mean(s["candidate_rows"] for s in coloc
                                        if "candidate_rows" in s),
        "hotspot.task_skew": _mean(field(coloc, "task_skew")),
        "hotspot.shuffle_bytes": _mean(field(coloc, "shuffle_write_bytes")),
        "index_select.layouts_s": _mean(field(layouts, "wall_s")),
        "index_select.plan_s": statistics.median(field(named("index_select.plan"), "wall_s"))
        if queries else 0.0,
        "index_select.exec_s": statistics.median(field(named("index_select.exec"), "wall_s"))
        if queries else 0.0,
        "index_select.rows_scanned_per_row": _ratio(
            [sum(t.get("rows_scanned", 0.0) for t in subtree(s)) for s in queries],
            field(queries, "output_rows")),
        "jvm.peak_heap_mb": peak_heap_mb,
        "trace.overhead_s": overhead_s / n,
        "trace.op_s": op_s / n,
    }
