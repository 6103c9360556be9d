"""One closed-loop iteration of each workload.

Every iteration returns its wall time, its output row count and the
digest of its output, ``(count, sum of Spark xxhash64 over doc_id,
region_id, tile_id)``:

* ``sjoin_tile`` runs ``bench.headline``'s plan and computes the digest
  in its one sink action, so checking adds no Spark job.
* ``sjoin_tile_job`` runs ``jobs.sjoin_tile.run`` into a fresh manifest
  root, then one resume call that must skip both stages. The digest is
  read from the committed ``pairs_tiled`` parquet files with pyarrow,
  outside the timed span and without Spark.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from geobench import reference, xxh64

KEYS = ("doc_id", "region_id", "tile_id")


@dataclass
class Iteration:
    wall_s: float
    rows: int
    digest: tuple
    extra: dict = field(default_factory=dict)


def headline_plan(spark, tracer, docs_path: str, regions_path: str):
    """``bench.headline``'s plan -> distinct (doc_id, region_id, tile_id)."""
    from cdap_geo_spark import docs as D
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.operators.tiles import assign_tiles

    with tracer.span("read"):
        src = spark.read.parquet(docs_path)
        regions = spark.read.parquet(regions_path) \
            .select("region_id", "geometry")
    with tracer.span("docs.with_geometry"):
        docs = D.with_geometry(src)
    with tracer.span("sjoin.plan"):
        pairs = sjoin_pairs(docs, regions, left_id="doc_id",
                            right_id="region_id", level=reference.LEVEL,
                            dedup=False, keep_left_geom=True)
    with tracer.span("tiles.plan"):
        tiled = assign_tiles(pairs, bbox=reference.BBOX,
                             splits=reference.SPLITS, keep=("region_id",))
    return tiled.dropDuplicates(list(KEYS))


def sjoin_tile(spark, tracer, docs_path: str, regions_path: str,
               root: str) -> Iteration:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    with tracer.span("iteration"):
        out = headline_plan(spark, tracer, docs_path, regions_path)
        with tracer.span("sink"):
            row = out.agg(F.count(F.lit(1)), F.sum(
                F.xxhash64(*KEYS).cast("decimal(38,0)"))).first()
    wall = time.perf_counter() - t0
    count = int(row[0])
    return Iteration(wall, count, (count, int(row[1] or 0)))


def _tree_size(root: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def sjoin_tile_job(spark, tracer, docs_path: str, regions_path: str,
                   root: str) -> Iteration:
    from cdap_geo_spark.jobs import sjoin_tile as job

    shutil.rmtree(root, ignore_errors=True)
    args = dict(docs=docs_path, regions=regions_path, out=root,
                level=reference.LEVEL, splits=reference.SPLITS,
                bbox=reference.BBOX)
    t0 = time.perf_counter()
    with tracer.span("iteration"):
        with tracer.span("job.run"):
            summary = job.run(spark, **args)
    wall = time.perf_counter() - t0

    t1 = time.perf_counter()
    with tracer.span("job.resume"):
        resumed = job.run(spark, check_invariant=False, **args)
    resume_s = time.perf_counter() - t1
    if not all(s["skipped"] for s in resumed["stages"]):
        raise RuntimeError("resume re-ran a committed stage")

    pairs = pq.read_table(os.path.join(root, "pairs_tiled", "data"),
                          columns=list(KEYS))
    digest = xxh64.digest(*(pairs.column(k) for k in KEYS))
    if summary["rows"] != digest[0]:
        raise RuntimeError(f"enriched has {summary['rows']} rows, "
                           f"pairs_tiled {digest[0]}")
    stage_s = {s["name"]: s["wall_ms"] / 1e3 for s in summary["stages"]}
    size, files = _tree_size(root)
    shutil.rmtree(root, ignore_errors=True)
    return Iteration(wall, summary["rows"], digest, {
        "manifest.pairs_tiled_s": stage_s["pairs_tiled"],
        "manifest.enriched_s": stage_s["enriched"],
        "docs.invariant_s": max(0.0, wall - sum(stage_s.values())),
        "manifest.resume_s": resume_s,
        "manifest.bytes_written": float(size),
        "manifest.files": float(files),
        "manifest.bytes_per_row": size / summary["rows"],
    })


WORKLOADS = {"sjoin_tile": sjoin_tile, "sjoin_tile_job": sjoin_tile_job}
