"""Seeded benchmark inputs, written as parquet without Spark.

* ``documents``: ``fixtures``' interleaved documents for a doc-id range
  that the seed offsets, so every seed gives a different but equally
  shaped input. The caller picks the file count: ``2 * nproc`` files
  read as ``nproc`` partitions on a ``local[nproc]`` session.
* ``regions``: the fixed 5,000-row ``fixtures.regions`` table. Its
  generator runs on Spark, so it is built once per checkout by the first
  run and cached.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_REGIONS = 5_000
#: doc-id stride between seeds: seed s covers ids [s * STRIDE, s * STRIDE + n)
SEED_STRIDE = 10_000_000

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_ARROW = pa.schema([pa.field("doc_id", pa.string(), False),
                        pa.field("spans", pa.list_(_SPAN))])


def doc_ids(seed: int, n: int) -> np.ndarray:
    start = seed * SEED_STRIDE
    return np.arange(start, start + n, dtype=np.int64)


def documents_table(seed: int, n: int) -> pa.Table:
    from cdap_geo_spark import fixtures
    pdf = fixtures._docs_pdf(doc_ids(seed, n))
    return pa.Table.from_pandas(pdf, schema=DOCS_ARROW, preserve_index=False)


def write_files(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files under ``path``,
    replacing whatever was there (written beside, then renamed)."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = table.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(tmp, f"part-{i:05d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def ensure_documents(work: str, seed: int, n: int, files: int) -> str:
    path = os.path.join(work, "inputs", f"docs-s{seed}-n{n}-f{files}")
    if not os.path.isdir(path):
        write_files(documents_table(seed, n), path, files)
    return path


def ensure_regions(spark, work: str) -> str:
    """Path of the cached regions table, built on ``spark`` if missing."""
    from cdap_geo_spark import fixtures
    path = os.path.join(work, "inputs", f"regions-{N_REGIONS}")
    if not os.path.isdir(path):
        table = pa.Table.from_pandas(
            fixtures.regions(spark, N_REGIONS).toPandas(),
            preserve_index=False)
        write_files(table, path, 1)
    return path


def read_documents(path: str) -> pa.Table:
    return pq.read_table(path, schema=DOCS_ARROW)


def read_regions(path: str) -> pa.Table:
    return pq.read_table(path)


def primary_geometries(docs: pa.Table) -> list:
    """WKB of each doc's first geometry span (the engine's primary
    geometry), read straight from the generated spans."""
    import pyarrow.compute as pc
    spans = docs.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    owner = pc.list_parent_indices(spans)
    is_geom = pc.equal(pc.struct_field(flat, "kind"), "geometry")
    owner = owner.filter(is_geom).to_numpy()
    refs = pc.struct_field(flat, "media_ref").filter(is_geom) \
        .to_numpy(zero_copy_only=False)
    first = np.r_[True, owner[1:] != owner[:-1]]
    if first.sum() != docs.num_rows:
        raise ValueError("every document needs a geometry span")
    return [bytes.fromhex(h) for h in refs[first]]


def fingerprint(path: str) -> str:
    """Content hash of every parquet file under ``path``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
