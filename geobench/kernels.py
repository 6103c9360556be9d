"""Spark-free timing of the ``core`` kernels over a workload's own
geometries, single-threaded, with no JVM running.

It also replays the sjoin candidate step in NumPy: the same cell covers
``sjoin_pairs`` builds for each side at ``level``, joined on cell id,
then the bounding-box prefilter. Spark's plan metrics do not expose the
two counts this gives: the cell join's matches before the prefilter
(Catalyst evaluates the prefilter as the join condition) and the
prefiltered rows whose region marks the cell as fully inside, which the
refine step decides without the exact kernel. The replay's prefiltered
count must equal the join's output rows in the plan; the summary
carries both so a drift shows.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd


def _median_rate(fn, rows: int, repeats: int) -> float:
    """Median rows/s over ``repeats`` calls of ``fn``."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return rows / statistics.median(times)


def kernel_metrics(doc_blobs: list, region_blobs: list, *, level: int,
                   sample: int = 10_000, repeats: int = 3) -> dict:
    from cdap_geo_spark.core import cells as C, geom as G, wkb as W

    docs = W.parse_wkb(doc_blobs)
    regions = W.parse_wkb(region_blobs)
    loff, lcells, _ = C.cover_batch(docs, level, how="intersects", pad=1.0)
    roff, rcells, rinside = C.cover_batch(regions, level, how="marked",
                                          pad=1.0)
    left = pd.DataFrame({"cell": lcells, "li": np.repeat(
        np.arange(len(docs)), np.diff(loff))})
    right = pd.DataFrame({"cell": rcells, "inside": rinside, "ri": np.repeat(
        np.arange(len(regions)), np.diff(roff))})
    cand = left.merge(right, on="cell")
    lb, rb = docs.bounds(), regions.bounds()
    li, ri = cand["li"].to_numpy(), cand["ri"].to_numpy()
    passed = cand[~((lb[li, 0] > rb[ri, 2]) | (lb[li, 1] > rb[ri, 3])
                    | (lb[li, 2] < rb[ri, 0]) | (lb[li, 3] < rb[ri, 1]))]

    head = doc_blobs[:sample]
    part = W.parse_wkb(head)
    pairs = passed[passed["li"] < len(head)].drop_duplicates(["li", "ri"])
    li, ri = pairs["li"].to_numpy(), pairs["ri"].to_numpy()
    return {
        "core.wkb.parse_rows_per_s": _median_rate(
            lambda: W.parse_wkb(head), len(head), repeats),
        "core.cells.cover_rows_per_s": _median_rate(
            lambda: C.cover_batch(part, level, how="intersects", pad=1.0),
            len(head), repeats),
        "core.geom.pairs_intersect_rows_per_s": _median_rate(
            lambda: G.pairs_intersect(part, regions, li, ri), len(li),
            repeats),
        "sjoin.candidates": float(len(cand)),
        "sjoin.refine.decided_rows": float(passed["inside"].sum()),
        "replay.prefilter_rows": float(len(passed)),
    }
