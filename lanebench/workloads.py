"""Workload definitions and the seeded lane schedule.

A lane is one entry of `graft.SparkEntry.queries`. Its module is the
package of its entry function there; `MODULE` pins that mapping for the
lanes the workloads use (tests/test_lanebench.py checks it against
SparkEntry.scala).
"""
import random

MODULES = ["functions", "core", "operators", "geo", "raster", "sources", "text"]

# The lane lists are trimmed, and the batch lane groups share one
# workload, so that every run, with its set-up samples and correctness
# pass, fits the run budget (README.md, "Workloads"). The lanes that
# ROADMAP items 2 and 4 name are all kept.

# asset_index: DroneDB's interactive query surface, split into reads and
# sync (stamp/delta) operations.
ASSET_READS = [
    "q_like_scan", "q_epsg", "q_mime", "q_geojson_bbox", "q_paging", "q_path_ops",
    "q_topk", "q_count_group", "q_tile_math", "q_bbox_filter", "q_stac_page",
    "q_tag_parse",
]
ASSET_SYNCS = ["q_anti_join", "q_except", "q_stamp_checksum", "q_apply_delta"]

# batch: executor-side work, in three groups: raster/geo UDF kernels,
# container and codec round trips, and wide exchanges.
BATCH_GROUPS = {
    "raster_geo": ["q_pctiler", "q_dbscan", "q_volume"],
    "format_codecs": ["q_arrow", "q_parquet_read", "q_zst", "q_xz"],
    "shuffle_heavy": ["q_stats_agg", "q_percentiles", "q_suffix_dedup"],
}

WORKLOADS = {
    "asset_index": ASSET_READS + ASSET_SYNCS,
    "batch": [lane for lanes in BATCH_GROUPS.values() for lane in lanes],
}

# Workloads whose runs also round-trip the codec corpus before timing.
CODEC_WORKLOADS = {"batch"}

WARMUP_LANE = "q_case_when"

_by_module = {
    "operators": [
        "q_paging", "q_topk", "q_count_group", "q_stac_page", "q_like_scan",
        "q_anti_join", "q_except", "q_stamp_checksum", "q_apply_delta",
        "q_stats_agg", "q_percentiles",
    ],
    "functions": ["q_epsg", "q_mime", "q_geojson_bbox", "q_path_ops"],
    "core": ["q_tag_parse"],
    "geo": ["q_tile_math", "q_bbox_filter", "q_pctiler", "q_dbscan"],
    "raster": ["q_volume"],
    "sources": ["q_arrow", "q_parquet_read", "q_zst", "q_xz"],
    "text": ["q_suffix_dedup"],
}
MODULE = {lane: m for m, lanes in _by_module.items() for lane in lanes}


def module_of(lane):
    return MODULE.get(lane, "other")


def is_sync(workload, lane):
    """Sync lanes exist only in asset_index; everywhere else every lane is
    a query."""
    return workload == "asset_index" and lane in ASSET_SYNCS


def schedule(workload, seed, n_passes, lanes=None):
    """Seeded lane order for every pass of a run. Every pass visits the
    same multiset of lanes, so passes are comparable; only the order,
    drawn from the seed, differs."""
    rng = random.Random(f"{workload}:{seed}")
    out = []
    for _ in range(n_passes):
        order = list(lanes if lanes is not None else WORKLOADS[workload])
        rng.shuffle(order)
        out.append(order)
    return out
