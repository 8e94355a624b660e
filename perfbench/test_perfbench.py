"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

- the generators are pure functions of their seed;
- the lake manifest agrees with what the pipeline computes on a tiny
  lake, and the DuckDB mart oracle agrees with the incremental MERGE;
- every metric ``BENCHMARK.json`` names is emitted, with its unit, and
  no operation fails.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import lakegen  # noqa: E402
import tablegen  # noqa: E402

TINY = lakegen.LakeSpec(n_locations=8, n_days=4, readings_per_sensor_day=4, p_late=0.3,
                        p_drift=0.2, p_dup_location=0.3, p_dup_measurement=0.2,
                        orphan_rows_per_day=2)


def tree_digest(root: Path) -> str:
    h = hashlib.sha256()
    for path in sorted(root.rglob("*")):
        if path.is_file():
            h.update(str(path.relative_to(root)).encode())
            h.update(path.read_bytes())
    return h.hexdigest()


def test_same_seed_same_lake_and_tables(tmp_path):
    digests = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        lakegen.write_lake(str(tmp_path / name / "lake"), seed, TINY)
        tablegen.write_tables(str(tmp_path / name / "tables"), seed)
        digests[name] = (tree_digest(tmp_path / name / "lake"),
                         tree_digest(tmp_path / name / "tables"))
    assert digests["a"] == digests["b"]
    assert digests["a"][0] != digests["c"][0]
    assert digests["a"][1] != digests["c"][1]


def test_lake_layout_and_injected_cases(tmp_path):
    rows, manifest = lakegen.write_lake(str(tmp_path), 3, TINY)
    files = sorted(p.relative_to(tmp_path).as_posix() for p in tmp_path.rglob("*.ndjson"))
    assert files[0] == "locations/2025/03/01/locations_part0.ndjson"
    assert len(files) == 2 * TINY.n_days
    day = manifest["days"][3]
    assert day["measurements"]["corrupt"] == 1 and day["measurements"]["blank"] == 1
    assert sum(d["late_rows"] for d in manifest["days"]) > 0
    expected = manifest["expected"][TINY.n_days]
    assert expected["failures"]["relationships:stg_openaq__measurements.sensor_parameter_key"] > 0
    assert expected["failures"]["unique:mart_location_air_quality.air_quality_record_id"] > 0
    assert expected["stg_openaq__locations"] < expected["raw_locations"]  # stale duplicates


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("PYTHONPATH", str(ROOT))
    from openaq_data_pipeline_spark import get_spark

    session = get_spark(master="local[2]", shuffle_partitions=2)
    yield session
    session.stop()


def test_manifest_and_mart_oracle_match_the_pipeline(spark, tmp_path):
    from openaq_data_pipeline_spark import schemas
    from openaq_data_pipeline_spark.plans import runner
    from openaq_data_pipeline_spark.sources.bronze import recover_bronze
    from oracle import MartOracle, spark_rows

    lake = tmp_path / "lake"
    rows, manifest = lakegen.write_lake(str(lake), 9, TINY)

    def paths(days):
        return runner.PipelinePaths(
            root=str(tmp_path / "wh"),
            lake_locations=lakegen.day_glob(str(lake), "locations", days),
            lake_measurements=lakegen.day_glob(str(lake), "measurements", days))

    history = range(TINY.n_days - 1)
    p = paths(history)
    recover_bronze(spark, p.lake_locations, schemas.RAW_LOCATIONS, p.bronze_locations)
    recover_bronze(spark, p.lake_measurements, schemas.RAW_MEASUREMENTS, p.bronze_measurements)
    runner.materialize_marts(spark, p, full_refresh=True)
    last = TINY.n_days - 1
    counts = runner.ingest(spark, paths([last]), mode="append")
    assert counts == {"raw_locations": manifest["days"][last]["locations"]["rows"],
                      "raw_measurements": manifest["days"][last]["measurements"]["rows"]}
    models, results, fresh = runner.build(spark, paths([last]), raise_on_failure=False)
    expected = manifest["expected"][TINY.n_days]
    for name in ("raw_locations", "raw_measurements", "stg_openaq__locations",
                 "stg_openaq__sensors", "stg_openaq__measurements", "int_valid_measurements"):
        assert models[name].count() == expected[name], name
    failures = {r.check.name: r.failures for r in results if r.failures}
    assert failures == {k: v for k, v in expected["failures"].items() if v}
    assert [f.status for f in fresh] == ["error", "error"]
    runner.materialize_marts(spark, paths([last]))

    oracle = MartOracle(rows, TINY.n_days)
    for mart in ("mart_location_air_quality", "mart_location_weather"):
        oracle.full_refresh(mart, TINY.n_days - 1)
        oracle.incremental(mart, TINY.n_days)
        got, _ = spark_rows(spark, str(tmp_path / "wh" / "gold" / mart))
        assert sorted(map(repr, got)) == sorted(map(repr, oracle.rows(mart))), mart
        # the late rows of the last day are older than the watermark: a
        # full refresh keeps them, the MERGE does not
        oracle.full_refresh(mart, TINY.n_days)
        assert len(oracle.rows(mart)) > len(got)


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


# per-layer metrics that must be non-zero where their layer runs and zero
# on the workload that does not run it
LAYER_PROBES = {
    "daily_incremental": ["sources.jobs", "quality.jobs", "incremental.merge_s",
                          "marts.join_fanout", "pipeline.write_amp", "setup.first_day_s"],
    "driver_queries": ["catalog.jobs", "catalog.exec_s", "catalog.pagerank_entities.jobs"],
}


@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_emitted_and_nothing_fails(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    named = spec["per_layer"] if trace else spec["end_to_end"]
    for workload in [w["name"] for w in spec["workloads"]]:
        result = _bench(workload, trace)
        assert result["failed"] == 0 and result["correct"], (workload, result)
        metrics = result["metrics"]
        assert {m["name"]: m["unit"] for m in named} == {
            k: v["unit"] for k, v in metrics.items()}, workload
        if not trace:
            assert all(v["value"] > 0 for v in metrics.values()), (workload, metrics)
            continue
        for owner, probes in LAYER_PROBES.items():
            for name in probes:
                assert (metrics[name]["value"] > 0) == (owner == workload), (workload, name)
