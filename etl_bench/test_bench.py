"""Self-tests of the benchmark: ``python3 -m pytest etl_bench -q`` from the
repository root."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest

from etl_bench import gen
from etl_bench.stats import freshness, percentile, tail_supported
from etl_bench.workloads import END_TO_END, PER_LAYER, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for base, dirs, names in sorted(os.walk(path)):
        dirs.sort()
        for n in sorted(names):
            h.update(os.path.relpath(os.path.join(base, n), path).encode())
            with open(os.path.join(base, n), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_star_schema_is_byte_identical_per_seed(tmp_path):
    digests = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.star_schema(str(tmp_path / name), seed, orders=2_000, customers=200, files=2)
        digests.append(_digest(str(tmp_path / name)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_pages_and_merge_batches_are_identical_per_seed(tmp_path):
    assert gen.page_file(3, 7) == gen.page_file(3, 7)
    assert gen.page_file(3, 7)[0] != gen.page_file(4, 7)[0]
    assert gen.page_file(3, 7)[0] != gen.page_file(3, 8)[0]

    v1 = gen.historic_table(str(tmp_path / "a"), 3, rows=6_000, partitions=6)
    v2 = gen.historic_table(str(tmp_path / "b"), 3, rows=6_000, partitions=6)
    gen.historic_table(str(tmp_path / "c"), 4, rows=6_000, partitions=6)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    b1, e1 = gen.update_batch(3, 0, v1, rows=500, partitions=6, touched=2)
    b2, e2 = gen.update_batch(3, 0, v2, rows=500, partitions=6, touched=2)
    assert b1.equals(b2) and np.array_equal(e1, e2)
    assert not b1.equals(gen.update_batch(4, 0, v1, rows=500, partitions=6, touched=2)[0])


def test_update_batch_keeps_keys_in_their_partition():
    versions = np.ones(6_000, dtype=np.int64)
    batch, expected = gen.update_batch(1, 0, versions, rows=600, partitions=6, touched=2)
    keys = batch.column("match_key").to_numpy()
    parts = batch.column("part").to_numpy()
    assert len(np.unique(keys)) == len(keys)  # every key once per batch
    assert np.array_equal(parts, keys % 6)
    assert len(np.unique(parts)) == 2
    new = keys >= len(versions)
    assert new.sum() == 120  # 20% brand-new keys
    assert (expected[keys[~new]] > 1).all()  # existing keys: higher version
    assert (expected > 0).sum() == len(versions) + new.sum()


def test_page_file_kept_rows_match_the_engine_parser():
    from historic_score_etl_pipeline_spark.sources.pages_source import parse_page_tokens

    text, kept = gen.page_file(11, 0)
    assert kept == list(parse_page_tokens(text.replace("\n", ",").split(",")))
    assert len(kept) < gen.RECORDS_PER_PAGE  # some records are cancelled
    assert gen.STOP_WORD in text


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert not tail_supported(99, 0.9)
    assert tail_supported(100, 0.9)
    assert percentile(list(range(99)), 0.9) is None
    assert percentile([float(i) for i in range(1, 101)], 0.9) == 90.0
    assert percentile([float(i) for i in range(1, 101)], 0.5) == 50.0


def test_freshness_on_a_synthetic_timeline():
    cycles = [(0.0, 3.0), (3.0, 5.0), (5.5, 6.0)]
    scheduled = [0.5, 2.9, 3.0, 5.2, 7.0]
    landed = [0.6, 3.1, 3.0, 5.4, 7.0]
    # 0.6 -> cycle starting 3.0 ends 5.0; 3.1 -> cycle at 5.5 ends 6.0;
    # 3.0 lands exactly as a cycle starts -> that cycle counts;
    # 5.4 -> cycle at 5.5; 7.0 -> no cycle started after it
    assert freshness(scheduled, landed, cycles) == pytest.approx([4.5, 3.1, 2.0, 0.8])


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_close_reaps_the_jvm_and_python_workers():
    from etl_bench.run import Bench
    from etl_bench.trace import proc_descendants

    bench = Bench("selftest", 0, 1, False)
    spark = bench.start_session(cpus=2)
    # a Python UDF starts Python worker processes under the JVM
    assert spark.range(100).rdd.map(lambda r: r.id).sum() == 4950
    kids = proc_descendants(os.getpid())
    assert bench.jvm_pid in kids and len(kids) >= 2
    bench.close()
    assert bench.diag["leftover_children"] == 0
    assert not [k for k in kids if os.path.exists(f"/proc/{k}")]
    assert not os.path.exists(bench.work)
