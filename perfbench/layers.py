"""Per-layer metrics from the traced run.

Layers are the `imc` modules. Stage work is the span around
`manifest.materialize` for a stage, minus its `manifest.refresh_manifest`
child; `plan` is the call
time of the function that builds the stage's lazy plan, i.e. the eager
jobs it runs on the way. Layer time is reported as a share of the traced
operation (`trace.op_s`), so a layer the workload does not call reads a
share of 0 rather than a constant time; counts are per operation (per
build or corpus pass). The times every workload measures (the op,
view registration, each query kind) are reported as times.
"""

from __future__ import annotations

import json
import os

from imc import (corridors, dbscan, extract, joins, manifest, pipeline,
                 raster, segments, sqlviews, sweep)
from perfbench.harness import median

# stage table -> layer key
STAGE_KEYS = {
    "points": "extract", "segments": "segments", "eps_pairs": "joins.eps",
    "assignments": "dbscan", "rep_points": "sweep", "corridors": "corridors",
    "raster": "raster.rasterize", "polygons": "raster.polygons",
    "tile_assignments": "joins.pip",
}
# lazy plan function span -> layer key
PLAN_KEYS = {
    "extract.pages_to_points": "extract",
    "segments.mdl_segments": "segments",
    "joins.eps_join": "joins.eps",
    "dbscan.dbscan": "dbscan",
    "sweep.representative_trajectories": "sweep",
    "corridors.corridor_polygons": "corridors",
    "raster.rasterize": "raster.rasterize",
    "raster.extract_polygons": "raster.polygons",
    "joins.tile_assignments": "joins.pip",
    "joins.tile_assignments_cogrouped": "joins.pip",
}
QUERY_KINDS = ("point", "range", "join", "agg")
CORPUS_OPS = (
    "textops.quality_scores", "textops.dedup_clusters",
    "textops.simhash_near_pairs", "textops.boilerplate_scrub",
    "textops.substring_scrub", "textops.pack_sequences", "textops.top_terms",
    "similarity.ann_topk_ivf", "similarity.ann_topk_pq",
)


def install(tracer) -> None:
    """Wrap the public entry points of each traced layer."""
    def stage_arg(args, kwargs):  # `stage` is the third parameter of both
        return args[2] if len(args) > 2 else kwargs.get("stage")

    tracer.wrap(pipeline, "run")
    tracer.wrap(manifest, "materialize", stage_arg)
    tracer.wrap(manifest, "refresh_manifest", stage_arg)
    tracer.wrap(sqlviews, "register_stage_views")
    modules = {"extract": extract, "segments": segments, "joins": joins,
               "dbscan": dbscan, "sweep": sweep, "corridors": corridors,
               "raster": raster}
    for name in PLAN_KEYS:
        mod, attr = name.split(".")
        tracer.wrap(modules[mod], attr)


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = []
    for key in STAGE_KEYS.values():
        out += [(f"{key}.share", "ratio"), (f"{key}.plan_share", "ratio"),
                (f"{key}.jobs", "count"), (f"{key}.tasks", "count"),
                (f"{key}.failed_tasks", "count"), (f"{key}.rows_out", "rows")]
    out += [("joins.headline_rows_per_s", "rows/s"),
            ("manifest.refresh_share", "ratio"), ("manifest.refresh_jobs", "count"),
            ("pipeline.run_gap_share", "ratio")]
    for op in CORPUS_OPS:
        out += [(f"{op}.share", "ratio"), (f"{op}.jobs", "count")]
    out += [("textops.dedup_clusters.persisted_rdds_delta", "count"),
            ("spark.persisted_rdds_delta", "count"),
            ("views.register_ms", "ms")]
    out += [(f"q.{q}_ms", "ms") for q in QUERY_KINDS]
    out += [("trace.op_s", "s"), ("trace.spans", "count")]
    return out


def _base(name: str) -> str:
    return name.split(":", 1)[0]


def _stage(name: str) -> str:
    return name.split(":", 1)[1] if ":" in name else ""


def metrics(tracer, res) -> dict:
    spans = tracer.spans
    ops = res.ctx.get("ops", 1)
    op_s = sum(res.op_s)
    m = {name: 0.0 for name, _ in names()}

    def count(key, v):
        m[key] += v / ops

    def share(key, seconds):
        if op_s > 0:
            m[key] += seconds / op_s

    def counts(span, skip_refresh=False):
        tot = [0, 0, 0]
        for s in tracer.subtree(span):
            if skip_refresh and _base(s.name) == "manifest.refresh_manifest":
                continue
            for i, v in enumerate(tracer.job_counts(s)):
                tot[i] += v
        return tot

    def add_counts(key, jobs, tasks, failed):
        count(f"{key}.jobs", jobs)
        count(f"{key}.tasks", tasks)
        count(f"{key}.failed_tasks", failed)

    register = []
    stage_s = {key: 0.0 for key in STAGE_KEYS.values()}
    for s in spans:
        base = _base(s.name)
        if base == "manifest.materialize":
            key = STAGE_KEYS[_stage(s.name)]
            refresh = sum(c.dur for c in tracer.subtree(s)
                          if _base(c.name) == "manifest.refresh_manifest")
            stage_s[key] += s.dur - refresh
            share(f"{key}.share", s.dur - refresh)
            add_counts(key, *counts(s, skip_refresh=True))
        elif base in PLAN_KEYS:
            key = PLAN_KEYS[base]
            share(f"{key}.plan_share", s.dur)
            add_counts(key, *counts(s))
        elif base == "manifest.refresh_manifest":
            share("manifest.refresh_share", s.dur)
            count("manifest.refresh_jobs", tracer.job_counts(s)[0])
        elif base == "pipeline.run":
            share("pipeline.run_gap_share", s.self_time)
        elif base in ("sqlviews.register_stage_views", "views.register"):
            register.append(1000.0 * s.dur)
        elif base in CORPUS_OPS:
            share(f"{base}.share", s.dur)
            count(f"{base}.jobs", counts(s)[0])
            if base == "textops.dedup_clusters":
                count("textops.dedup_clusters.persisted_rdds_delta",
                      s.rdds_after - s.rdds_before)

    if register:
        m["views.register_ms"] = median(register)
    for kind, ms in res.query_ms.items():
        m[f"q.{kind}_ms"] = median(ms)

    out_dir = res.ctx.get("out_dir")
    if out_dir:
        for stage, key in STAGE_KEYS.items():
            try:
                with open(os.path.join(out_dir, stage, manifest.MANIFEST_NAME)) as f:
                    m[f"{key}.rows_out"] = float(json.load(f)["row_count"])
            except (OSError, ValueError, KeyError):
                pass
    join_s = stage_s["joins.eps"] + stage_s["joins.pip"]
    if join_s > 0:
        m["joins.headline_rows_per_s"] = (
            m["joins.eps.rows_out"] + m["joins.pip.rows_out"]) / (join_s / ops)
    tops = [s for s in spans if s.parent is None]
    if tops:
        m["spark.persisted_rdds_delta"] = float(tops[-1].rdds_after
                                                - tops[0].rdds_before)
    m["trace.spans"] = float(len(spans))
    m["trace.op_s"] = median(res.op_s) if res.op_s else 0.0
    return m
