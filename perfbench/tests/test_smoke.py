"""One tiny run of each workload on a shared local session: inputs,
warm-up, one untraced and one traced operation, output checks, and the
traced per-layer numbers."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

pytest.importorskip("pyspark")

import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

from conftest import BENCH  # noqa: E402


class TinySearch(workloads.SearchApi):
    N_DOCS, N_REQUESTS, N_WARM = 2_000, 40, 1


class TinyStream(workloads.StreamIngest):
    N_WARM_BATCHES, BATCHES_PER_OP, BATCH_SIZE = 1, 1, 12


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from beis_orp_data_service_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    root = str(tmp_path_factory.mktemp("spark"))
    s = get_spark("perfbench-tests", shuffle_partitions=4, extra_conf=run.spark_conf(root))
    yield s
    s.stop()


def _run_tiny(cls, spark, root):
    wl = cls(spark, str(root), seed=3)
    wl.make_inputs(0)
    wl.warm_up()
    tracer = Tracer(spark)
    wl.install_tracing(tracer)
    try:
        results, ops, failed_ops = run.measure(wl, spark, 0.0, tracer)
    finally:
        tracer.unwrap_all()
    attempted, failed, failures = wl.check()
    assert failed_ops == 0 and failed == 0, failures
    assert attempted >= 2 and [t for t, _ in results] == [False, True] and len(ops) == 1
    tracer.wait_for_listeners()
    layers = wl.layer_metrics(tracer, ops)
    assert set(layers) == set(workloads.PER_LAYER)
    assert layers["driver.jobs"] > 0 and layers["driver.tasks"] > 0 and layers["trace.spans"] >= 1
    return layers


def test_search_api_tiny(spark, tmp_path):
    layers = _run_tiny(TinySearch, spark, tmp_path)
    assert layers["search.exec_ms"] > 0 and layers["search.plan_ms"] > 0
    assert layers["scan.input_bytes"] > 0 and layers["scan.rows_per_hit"] > 0


def test_stream_ingest_tiny(spark, tmp_path):
    layers = _run_tiny(TinyStream, spark, tmp_path)
    # the micro-batch jobs are tagged by the span set inside the batch wrapper
    assert layers["stream.jobs_per_batch"] > 1
    assert layers["sink.merge_ms"] > 0 and layers["sink.files_per_batch"] > 0
    assert layers["lsh.write_ms"] > 0 and layers["lsh.index_files"] > 0
    assert layers["write.files"] > 0  # manifest commits
    assert layers["udf.converters.ms"] > 0


def test_lsh_reference_matches_the_engine(spark):
    import gen
    import numpy as np
    import reference
    from beis_orp_data_service_spark.operators import dedup

    rng = np.random.default_rng(0)
    texts = [gen.words(rng, 40) for _ in range(20)] + ["ab", "x" * 300]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = dedup.lsh_band_rows(docs, "doc_id", "text", 4, None).collect()
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r.doc_id, set()).add(tuple(int(x) for x in r.band_key.split("_")))
    assert got == {i: reference.lsh_bands(t) for i, t in enumerate(texts)}


def test_run_fails_without_the_engine(tmp_path):
    """Given only the benchmark's own files, a run exits non-zero and
    prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("tests", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search_api", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
