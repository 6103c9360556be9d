"""The benchmark's own checks. Run from the repository root:

    python -m pytest geobench/tests -q

They start one small local Spark session (2 cores, 1g heap).
"""

from __future__ import annotations

import os
import random
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from geobench import inputs, reference, trace, workloads, xxh64  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_WAREHOUSE_DIR"] = str(tmp_path_factory.mktemp("wh"))
    from cdap_geo_spark.session import get_spark
    s = get_spark(app="geobench-tests", cores=2, extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def regions(spark, tmp_path_factory):
    return inputs.ensure_regions(spark, str(tmp_path_factory.mktemp("work")))


def test_numpy_xxhash64_equals_spark(spark):
    from pyspark.sql import functions as F
    rng = random.Random(7)
    alphabet = "abcxyz0123456789-_é"
    rows = [tuple("".join(rng.choice(alphabet)
                          for _ in range(rng.randrange(0, 80)))
                  for _ in range(3)) for _ in range(500)]
    df = spark.createDataFrame(rows, "a string, b string, c string")
    got = df.select(F.xxhash64("a", "b", "c"), F.xxhash64("a")).collect()
    cols = list(zip(*rows))
    assert [r[0] for r in got] == xxh64.xxhash64(*cols).tolist()
    assert [r[1] for r in got] == xxh64.xxhash64(cols[0]).tolist()


@pytest.mark.parametrize("seed", [3, 71])
def test_oracle_reference_equals_engine(spark, regions, tmp_path, seed):
    docs = inputs.ensure_documents(str(tmp_path), seed, 1_500, 2)
    out = workloads.headline_plan(spark, trace.Tracer(spark, False), docs,
                                  regions)
    engine = {tuple(r) for r in out.collect()}
    table = inputs.read_documents(docs)
    reg = inputs.read_regions(regions)
    expected = set(zip(*reference.expected_rows(
        table.column("doc_id").to_pylist(), inputs.primary_geometries(table),
        reg.column("region_id").to_pylist(),
        reg.column("geometry").to_pylist())))
    assert engine and engine == expected


def test_traced_iteration_matches_untraced(spark, regions, tmp_path):
    docs = inputs.ensure_documents(str(tmp_path), 5, 1_000, 2)
    api = trace.StatusApi(spark)
    counts, digests = [], []
    for enabled in (False, True):
        tracer = trace.Tracer(spark, enabled)
        since = api.max_ids()
        it = workloads.sjoin_tile(spark, tracer, docs, regions, "")
        digests.append(it.digest)
        counts.append(api.max_ids()[0] - since[0])
        if enabled:
            layers = trace.spark_layers(api, since, tracer.names(),
                                        it.wall_s, 2, 65536)
            assert layers["spark.jobs"] == counts[-1]
    assert digests[0] == digests[1]
    assert counts[0] == counts[1] > 0
