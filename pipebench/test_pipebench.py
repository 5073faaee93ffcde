"""Tests of the benchmark itself: seeded inputs are reproducible, every
output check rejects a corrupted output, and spans are attributed the
right Spark jobs.

    python3 -m pytest pipebench -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Tracer, covered  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize(
    "write, args",
    [
        (gen.write_cmapss_corpus, (2, 2)),
        (gen.write_doc_corpus, (40,)),
        (gen.write_media_corpus, (2, 2, 1)),
    ],
)
def test_same_seed_gives_identical_inputs(tmp_path, write, args):
    a, b, c = (str(tmp_path / n) for n in "abc")
    write(a, 7, *args)
    write(b, 7, *args)
    write(c, 8, *args)
    # paths recorded in planted.json differ by directory; compare the rest
    ta, tb, tc = _tree_bytes(a), _tree_bytes(b), _tree_bytes(c)
    data = [k for k in ta if k != "planted.json"]
    assert data and all(ta[k] == tb[k] for k in data)
    assert any(ta[k] != tc[k] for k in data)


# --- each check accepts a correct output and rejects a corrupted one ---

CMAPSS_PLANT = {
    "kept_sensors": ["sensor2", "sensor3"],
    "train_rows": 100,
    "datasets": {
        "FD001": {"train_units": 2, "test_units": 2, "train_rows": 60},
        "FD002": {"train_units": 1, "test_units": 1, "train_rows": 40},
    },
}
CMAPSS_OUT = {
    "kept_sensors": ["sensor2", "sensor3"],
    "feature_rows": 100,
    "rul0_per_unit": [("FD001", 1, 1), ("FD001", 2, 1), ("FD002", 1, 1)],
    "prediction_rows": {"linear_regression": 3, "mlp": 3},
    "metrics": {"linear_regression": {"rmse": 20.0}, "mlp": {"rmse": 25.0}},
}


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda o: o["kept_sensors"].append("sensor1"),
        lambda o: o.update(feature_rows=99),
        lambda o: o["rul0_per_unit"].__setitem__(0, ("FD001", 1, 2)),
        lambda o: o["rul0_per_unit"].pop(),
        lambda o: o["prediction_rows"].update(mlp=4),
        lambda o: o["metrics"]["mlp"].update(rmse=80.0),
    ],
)
def test_cmapss_check_rejects_corruption(corrupt):
    assert checks.check_cmapss(CMAPSS_OUT, CMAPSS_PLANT, rmse_ceiling=50) == {}
    bad = copy.deepcopy(CMAPSS_OUT)
    corrupt(bad)
    assert checks.check_cmapss(bad, CMAPSS_PLANT, rmse_ceiling=50)


FLEET_PLANT = {**CMAPSS_PLANT, "prediction_rows": 3}
GOOD_TILES = {
    "fleet_overview": [
        {"dataset": "FD001", "n_engines": 2, "n_cycles": 60},
        {"dataset": "FD002", "n_engines": 1, "n_cycles": 40},
    ],
    "critical_share": [
        {"band": "critical", "n": 25, "share": 0.25},
        {"band": "healthy", "n": 75, "share": 0.75},
    ],
    "rul_distribution": [{"rul_bin": 0, "n": 70}, {"rul_bin": 25, "n": 30}],
    "sensor_histogram": [{"bucket": 0, "n": 100}],
    "sensor_bounds": {"sensor2": (1.0, 2.0)},
    "recent_predictions": [{}, {}, {}],
    "prediction_error_summary": [{"n_predictions": 3}],
}
CORRUPT_TILES = {
    "fleet_overview": lambda r: r[0].update(n_engines=3),
    "critical_share": lambda r: r[0].update(share=0.3),
    "rul_distribution": lambda r: r.pop(),
    "sensor_histogram": lambda r: r[0].update(n=99),
    "sensor_bounds": lambda r: r.update(sensor2=(2.0, 2.0)),
    "recent_predictions": lambda r: r.pop(),
    "prediction_error_summary": lambda r: r[0].update(n_predictions=2),
}


@pytest.mark.parametrize("tile", sorted(GOOD_TILES))
def test_dashboard_check_rejects_corruption(tile):
    assert checks.check_tile(tile, GOOD_TILES[tile], FLEET_PLANT) == []
    bad = copy.deepcopy(GOOD_TILES[tile])
    CORRUPT_TILES[tile](bad)
    assert checks.check_tile(tile, bad, FLEET_PLANT)


CURATION_PLANT = {
    "contaminants": [9],
    "junk": [8],
    "dup_groups": [[1, 2, 3]],
    "near_clusters": [[4, 5]],
}
CURATION_OUT = {
    "chunk_docs": {1: "train", 4: "eval", 5: "eval", 6: "train"},
    "seq_tokens": [256, 120],
}


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda o: o["chunk_docs"].update({9: "train"}),
        lambda o: o["chunk_docs"].update({8: "train"}),
        lambda o: o["chunk_docs"].update({3: "train"}),
        lambda o: o["chunk_docs"].update({5: "train"}),
        lambda o: o["seq_tokens"].append(257),
    ],
)
def test_curation_check_rejects_corruption(corrupt):
    assert checks.check_curation(CURATION_OUT, CURATION_PLANT, 256) == {}
    bad = copy.deepcopy(CURATION_OUT)
    corrupt(bad)
    assert checks.check_curation(bad, CURATION_PLANT, 256)


@pytest.mark.parametrize(
    "survivors, errors",
    [(5, []), (3, []), (4, ["ValueError: corrupt image stream"])],
)
def test_media_check_rejects_corruption(survivors, errors):
    assert checks.check_media("image", 4, [], 4) == []
    assert checks.check_media("image", survivors, errors, 4)


# --- span attribution -------------------------------------------------

def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert covered([], 0, 1) == 0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_span_attribution_on_known_jobs(spark):
    from operator import add

    sc = spark.sparkContext
    tr = Tracer(spark, traced=True)
    tr.begin_run("t")
    with tr.span("two_jobs"):
        sc.parallelize(range(100), 2).count()
        sc.parallelize(range(100), 2).sum()
    with tr.span("no_jobs"):
        sum(range(1000))
    with tr.span("shuffle"):
        sc.parallelize(range(1000), 2).map(lambda x: (x % 10, 1)).reduceByKey(add).collect()
    sc.parallelize(range(10), 1).count()  # outside every span
    two, none, shuffle = tr.spans
    assert (two["jobs"], none["jobs"], shuffle["jobs"]) == (2, 0, 1)
    assert two["task_s"] >= 0 and two["shuffle_mb"] == 0
    assert 0 <= two["driver_s"] <= two["wall_s"]
    assert none["driver_s"] == pytest.approx(none["wall_s"])
    assert shuffle["shuffle_mb"] > 0
    assert all(s["parent"] == "run" and s["run_id"] == "t" for s in tr.spans)
