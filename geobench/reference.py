"""Expected output of the sjoin + tile-assign plan, from the scalar oracle.

The engine's result is the set of distinct ``(doc_id, region_id,
tile_id)`` where the doc's primary geometry intersects the region
(boundary touch counts) and the tile of the 10 x 10 grid over
``BBOX``. This module recomputes that set without Spark and without the
engine's kernels: geometry decoding and ``intersects`` come from
``tests/oracle.py`` (winding-number point-in-polygon plus segment
tests), and candidate pairs from a plain bounding-box grid.

Tile rule, following ``assign_tiles``' documented semantics: a single
point belongs to the one tile ``floor(x / width), floor(y / height)``
(clipped to the grid); any other geometry belongs to every tile whose
closed box it intersects, among the tiles its bounding box spans.

The digest (count, sum of Spark ``xxhash64``) is cached per input
fingerprint and source hash of the oracle and of this module.
"""

from __future__ import annotations

import hashlib
import json
import math
import multiprocessing
import os

BBOX = (0, 0, 700_000, 1_300_000)
SPLITS = 10
LEVEL = 7
_GRID = 20_000.0  # candidate bucket size in metres

_REGIONS = None  # per worker process: (ids, geoms, bounds, buckets)


def _oracle():
    from tests import oracle
    return oracle


def _bounds(oracle, g):
    pts = oracle._points(g)
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return min(xs), min(ys), max(xs), max(ys)


def _buckets(b):
    return [(i, j)
            for i in range(math.floor(b[0] / _GRID), math.floor(b[2] / _GRID) + 1)
            for j in range(math.floor(b[1] / _GRID), math.floor(b[3] / _GRID) + 1)]


def _init_regions(region_ids, region_blobs):
    global _REGIONS
    oracle = _oracle()
    geoms = [oracle.parse(b) for b in region_blobs]
    bounds = [_bounds(oracle, g) for g in geoms]
    buckets: dict = {}
    for k, b in enumerate(bounds):
        for cell in _buckets(b):
            buckets.setdefault(cell, []).append(k)
    segments = [[((a, c), (min(a[0], c[0]), min(a[1], c[1]),
                           max(a[0], c[0]), max(a[1], c[1])))
                 for a, c in oracle._segments(g)] for g in geoms]
    _REGIONS = (list(region_ids), geoms, bounds, buckets, segments)


def _intersects(oracle, g, b, rg, rsegs):
    """``oracle.intersects(g, rg)`` for a doc ``g`` (bounding box ``b``)
    and a polygon region ``rg``, built from the oracle's own predicates
    but testing only the region edges whose bounding box meets ``b``.

    If no doc edge meets a region edge, the two boundaries are apart, so
    the doc lies wholly inside or outside the region, and the region
    lies inside the doc only if one of its vertices (all endpoints of
    edges near ``b``) does. Multi-part docs take the full oracle path.
    """
    if g["type"] == "Point":
        return oracle.point_in_polygon(g["coords"], rg)
    if not oracle._rings(rg) or g["type"] not in ("LineString", "Polygon"):
        return oracle.intersects(g, rg)
    near = [seg for seg, e in rsegs
            if not (b[0] > e[2] or b[2] < e[0] or b[1] > e[3] or b[3] < e[1])]
    if near:
        doc_segs = oracle._segments(g)
        if any(oracle.seg_intersect(sa, sb)
               for sb in near for sa in doc_segs):
            return True
        if g["type"] == "Polygon" and any(
                oracle.point_in_polygon(q, g) for sb in near for q in sb):
            return True
    return oracle.point_in_polygon(oracle._points(g)[0], rg)


def _tiles(oracle, g, b):
    x0, y0, x1, y1 = BBOX
    rx, ry = (x1 - x0) // SPLITS, (y1 - y0) // SPLITS

    def clip(v):
        return min(max(v, 0), SPLITS - 1)

    if g["type"] == "Point":
        x, y = g["coords"]
        cand = [(clip(math.floor(x / rx)), clip(math.floor(y / ry)))]
    else:
        cand = [(i, j)
                for i in range(clip(math.floor(b[0] / rx)),
                               clip(math.floor(b[2] / rx)) + 1)
                for j in range(clip(math.floor(b[1] / ry)),
                               clip(math.floor(b[3] / ry)) + 1)]
        if len(cand) > 1:
            cand = [(i, j) for i, j in cand if oracle.intersects(g, {
                "type": "Polygon",
                "rings": [[(i * rx, j * ry), ((i + 1) * rx, j * ry),
                           ((i + 1) * rx, (j + 1) * ry), (i * rx, (j + 1) * ry),
                           (i * rx, j * ry)]]})]
    return [f"{i * rx}-{j * ry}" for i, j in cand]


def _rows_chunk(chunk):
    """(doc_id, region_id, tile_id) rows for one chunk of docs."""
    oracle = _oracle()
    region_ids, rgeoms, rbounds, buckets, rsegs = _REGIONS
    out = ([], [], [])
    for doc_id, blob in chunk:
        g = oracle.parse(blob)
        b = _bounds(oracle, g)
        seen = set()
        hits = []
        for cell in _buckets(b):
            for k in buckets.get(cell, ()):
                if k in seen:
                    continue
                seen.add(k)
                rb = rbounds[k]
                if b[0] > rb[2] or b[2] < rb[0] or b[1] > rb[3] or b[3] < rb[1]:
                    continue
                if _intersects(oracle, g, b, rgeoms[k], rsegs[k]):
                    hits.append(region_ids[k])
        if not hits:
            continue
        tiles = _tiles(oracle, g, b)
        for r in hits:
            for t in tiles:
                out[0].append(doc_id)
                out[1].append(r)
                out[2].append(t)
    return out


def expected_rows(doc_ids, doc_blobs, region_ids, region_blobs,
                  processes: int = 1):
    """The expected row set as three aligned lists."""
    docs = list(zip(doc_ids, doc_blobs))
    if processes <= 1:
        _init_regions(region_ids, region_blobs)
        return _rows_chunk(docs)
    step = max(1, len(docs) // (processes * 8))
    chunks = [docs[i:i + step] for i in range(0, len(docs), step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(processes, initializer=_init_regions,
                  initargs=(list(region_ids), list(region_blobs))) as pool:
        parts = pool.map(_rows_chunk, chunks)
    return tuple(sum((p[i] for p in parts), []) for i in range(3))


def source_hash() -> str:
    h = hashlib.sha256()
    for path in (_oracle().__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def expected_digest(work: str, docs_path: str, regions_path: str,
                    processes: int) -> dict:
    """{count, sum} of the expected rows, cached under ``work``."""
    from geobench import inputs, xxh64
    key = hashlib.sha256(
        f"{inputs.fingerprint(docs_path)} {inputs.fingerprint(regions_path)} "
        f"{source_hash()} {BBOX} {SPLITS}".encode()).hexdigest()[:24]
    path = os.path.join(work, "expected", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    docs = inputs.read_documents(docs_path)
    regions = inputs.read_regions(regions_path)
    rows = expected_rows(docs.column("doc_id").to_pylist(),
                         inputs.primary_geometries(docs),
                         regions.column("region_id").to_pylist(),
                         regions.column("geometry").to_pylist(),
                         processes=processes)
    count, total = xxh64.digest(*rows)
    out = {"count": count, "sum": str(total)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out
