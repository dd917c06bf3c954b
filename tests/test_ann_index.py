"""Persisted ANN index (sources/ann_index.py): probed-bucket-only
reads proven with scan metrics (same observable as tests/test_zorder.py)
and row-parity with the in-memory ANN operators."""

from __future__ import annotations

import struct

import numpy as np
import pyspark.sql.functions as F
import pytest

from movievectorsearch_spark.catalog import load_table
from movievectorsearch_spark.operators.ann import (
    _bucket_of,
    _probe_buckets,
    ivf_assign,
    ivf_search,
    random_hyperplanes,
    seeded_centroids,
    srp_bucket,
    srp_search,
)
from movievectorsearch_spark.plans.queries import QUERY_VEC
from movievectorsearch_spark.sources.ann_index import (
    index_reader,
    ivf_search_indexed,
    read_ivf_centroids,
    srp_search_indexed,
    write_ivf_index,
    write_srp_index,
)
from movievectorsearch_spark.sources.layout import scan_output_rows


@pytest.fixture(scope="module")
def srp_index(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("srp")) + "/index"
    e = load_table(spark, sf_dir, "embeddings")
    write_srp_index(e, path, dim=64, n_planes=8)
    return path, e


@pytest.fixture(scope="module")
def ivf_index(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf")) + "/index"
    e = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(e, n_cells=8)
    write_ivf_index(e, path, cents)
    return path, e, cents


def test_srp_indexed_matches_inmemory(spark, srp_index):
    path, e = srp_index
    served = srp_search_indexed(
        spark, path, QUERY_VEC, k=10, n_planes=8, max_hamming=1
    )
    mem = srp_search(e, QUERY_VEC, k=10, n_planes=8, max_hamming=1)
    key = lambda df: [
        (r.vec_id, round(r.score, 9)) for r in df.select("vec_id", "score").collect()
    ]
    assert key(served) == key(mem) and served.count() == 10


def test_srp_index_probe_reads_only_probed_buckets(spark, srp_index):
    path, e = srp_index
    # rows the probe SHOULD touch: corpus rows whose bucket is in the
    # probe set (recomputed independently via the expression)
    planes = random_hyperplanes(8, 64, 42)
    probes = _probe_buckets(_bucket_of(QUERY_VEC, planes), 8, max_hamming=1)
    expected = (
        e.withColumn("b", srp_bucket("embedding", planes))
        .filter(F.col("b").isin(probes))
        .count()
    )
    n_total = e.count()
    served = srp_search_indexed(
        spark, path, QUERY_VEC, k=10, n_planes=8, max_hamming=1
    )
    rows_read = scan_output_rows(served)
    assert rows_read == expected, (rows_read, expected)
    # the probe must NOT be a full scan: 9 of 256 buckets ≈ 3.5%
    assert rows_read < n_total / 5, (rows_read, n_total)


def test_srp_index_partition_pruning_in_plan(spark, srp_index):
    path, _ = srp_index
    served = srp_search_indexed(
        spark, path, QUERY_VEC, k=10, n_planes=8, max_hamming=1
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    # partition filters on the bucket directory column, and the scan
    # reports a pruned partition count
    assert "PartitionFilters" in plan and "bucket" in plan, plan


def test_ivf_indexed_matches_inmemory(spark, ivf_index):
    path, e, cents = ivf_index
    served = ivf_search_indexed(spark, path, QUERY_VEC, k=10, nprobe=2)
    mem = ivf_search(ivf_assign(e, cents), cents, QUERY_VEC, k=10, nprobe=2)
    key = lambda df: [
        (r.vec_id, round(r.score, 9)) for r in df.select("vec_id", "score").collect()
    ]
    assert key(served) == key(mem) and served.count() == 10


def test_ivf_centroids_roundtrip(spark, ivf_index):
    path, _, cents = ivf_index
    got = read_ivf_centroids(spark, path)
    assert len(got) == len(cents)
    for a, b in zip(got, cents):
        assert a == pytest.approx(b, abs=0)  # doubles round-trip exactly


def test_ivf_centroids_roundtrip_bit_exact(spark, sf_dir, tmp_path):
    """Centroids written as SQL double literals read back with the
    same bits, including values with no short decimal form, -0.0,
    a subnormal and the largest finite double."""
    rng = np.random.default_rng(11)
    cents = [list(rng.standard_normal(64)) for _ in range(3)]
    cents[0][:6] = [0.1, 1 / 3, -0.0, 5e-324, -1.7976931348623157e308, 2.0**-1022]
    path = str(tmp_path / "ivf")
    e = load_table(spark, sf_dir, "embeddings").filter("vec_id < 20")
    write_ivf_index(e, path, cents)
    bits = lambda v: struct.pack(f"<{len(v)}d", *v)  # noqa: E731
    got = read_ivf_centroids(spark, path)
    assert [bits(c) for c in got] == [bits(c) for c in cents]


def test_ivf_index_probe_reads_only_probed_cells(spark, ivf_index):
    path, e, cents = ivf_index
    n_total = e.count()
    served = ivf_search_indexed(spark, path, QUERY_VEC, k=10, nprobe=2)
    rows_read = scan_output_rows(served)
    # 2 of 8 cells: strictly less than the corpus; roughly a quarter
    assert rows_read < n_total, (rows_read, n_total)
    cell_sizes = (
        ivf_assign(e, cents).groupBy("__cell").count().collect()
    )
    sizes = {r["__cell"]: r["count"] for r in cell_sizes}
    # exact expectation: the two probed cells' sizes
    import numpy as np

    q = np.asarray(QUERY_VEC, dtype=np.float64)

    def cos(c):
        c = np.asarray(c, dtype=np.float64)
        d = np.linalg.norm(q) * np.linalg.norm(c)
        return float(q @ c / d) if d else -1.0

    order = sorted(range(len(cents)), key=lambda i: (-cos(cents[i]), i))
    expected = sum(sizes.get(c, 0) for c in order[:2])
    assert rows_read == expected, (rows_read, expected)


def _jobs_started(spark, build) -> list[int]:
    """Spark jobs that ``build()`` starts, from the status tracker's job
    ids for a job group set around it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup("ann-index-build"))
    sc.setJobGroup("ann-index-build", "index probe build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(set(tracker.getJobIdsForGroup("ann-index-build")) - before)


def test_index_reader_is_resolved_once_per_session(spark, srp_index, ivf_index):
    """Two probes of one path share one reader, and a warm build of
    either probe starts no Spark job: no partition-discovery listing
    (the SRP index has more than 32 bucket directories) and no centroid
    collect."""
    srp_path, _ = srp_index
    ivf_path, _, _ = ivf_index
    srp_search_indexed(spark, srp_path, QUERY_VEC, k=10)
    reader = index_reader(spark, srp_path)
    srp_search_indexed(spark, srp_path, QUERY_VEC[::-1], k=5)
    assert index_reader(spark, srp_path) is reader
    ivf_search_indexed(spark, ivf_path, QUERY_VEC, k=10)
    assert read_ivf_centroids(spark, ivf_path) is read_ivf_centroids(spark, ivf_path)
    assert _jobs_started(
        spark, lambda: srp_search_indexed(spark, srp_path, QUERY_VEC, k=10)
    ) == []
    assert _jobs_started(
        spark, lambda: ivf_search_indexed(spark, ivf_path, QUERY_VEC, k=10)
    ) == []


def test_index_rewritten_in_session_serves_new_rows(spark, sf_dir, tmp_path):
    """write_srp_index / write_ivf_index over a path this session has
    already probed: the next probe reads the new files."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(e, n_cells=8)
    srp_path, ivf_path = str(tmp_path / "srp"), str(tmp_path / "ivf")
    ids = lambda df: {r.vec_id for r in df.collect()}  # noqa: E731
    # disjoint subsets: a stale reader would serve the other parity
    for parity in (0, 1):
        subset = e.filter(f"vec_id % 2 = {parity}")
        write_srp_index(subset, srp_path, dim=64)
        write_ivf_index(subset, ivf_path, cents)
        got_srp = ids(srp_search_indexed(spark, srp_path, QUERY_VEC, k=10))
        got_ivf = ids(ivf_search_indexed(spark, ivf_path, QUERY_VEC, k=10))
        assert got_srp == ids(srp_search(subset, QUERY_VEC, k=10)) != set()
        assert got_ivf == ids(
            ivf_search(ivf_assign(subset, cents), cents, QUERY_VEC, k=10)
        ) != set()
        assert {i % 2 for i in got_srp | got_ivf} == {parity}


def test_srp_index_streamed_equals_batch_built(spark, sf_dir, tmp_path):
    """The file-sink-maintained index serves the same results as a
    one-shot batch build over the same corpus, after each sink run (a
    probe between runs must not pin the first run's files), and a
    restart appends only new vectors (exactly-once via the sink's
    commit log)."""
    from pyspark.sql import functions as F

    from movievectorsearch_spark.catalog import load_table
    from movievectorsearch_spark.sources.ann_index import (
        srp_index_stream_sink,
        srp_search_indexed,
        write_srp_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    halves = e.randomSplit([1.0, 1.0], seed=5)
    src = str(tmp_path / "src")
    halves[0].write.mode("overwrite").parquet(src)

    streamed = str(tmp_path / "stream_idx")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(e.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = srp_index_stream_sink(stream, streamed, ckpt, dim)
    assert q.awaitTermination(120)

    qv = [float((i * 37) % 19 - 9) / 10 for i in range(dim)]
    probe = lambda idx: [  # noqa: E731
        (r.vec_id, round(r.score, 9))
        for r in srp_search_indexed(spark, idx, qv, k=10).collect()
    ]
    first_idx = str(tmp_path / "first_idx")
    write_srp_index(halves[0], first_idx, dim)
    assert probe(streamed) == probe(first_idx)

    # restart folds in the second half only
    halves[1].write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(e.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q2 = srp_index_stream_sink(stream2, streamed, ckpt, dim)
    assert q2.awaitTermination(120)

    batch_idx = str(tmp_path / "batch_idx")
    write_srp_index(e, batch_idx, dim)

    # the probe after the second run sees its batches (never a reader
    # resolved before them)
    got = probe(streamed)
    want = probe(batch_idx)
    assert got == want and len(got) == 10
    # no duplicate vectors leaked in by the restart
    n_stream = spark.read.parquet(streamed).count()
    n_all = e.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).count()
    assert n_stream == n_all
