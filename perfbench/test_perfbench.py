"""The benchmark's own checks; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import inputs
from perfbench.run import END_TO_END, per_layer_units
from perfbench.trace import parse_metric

GENERATORS = {
    "tiles": inputs.feature_rows,
    "points": inputs.images,
    "documents": inputs.documents,
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_seed_fixes_inputs_and_sizes(name):
    make = GENERATORS[name]
    a, again, b = make(1), make(1), make(2)
    assert inputs.digest(a) == inputs.digest(again)
    assert inputs.digest(a) != inputs.digest(b)
    assert len(a) == len(b)
    assert a.groupby("batch").size().tolist() == b.groupby("batch").size().tolist()
    assert abs(inputs.nbytes(a) - inputs.nbytes(b)) <= 0.01 * inputs.nbytes(a)


def test_documents_carry_seeded_salt_and_near_duplicates():
    docs = inputs.documents(3)
    salted = docs[docs.doc_id % 100 >= 4].text
    assert salted.str.contains(r"\bu\d+x\d+\b").all()
    near = docs[docs.doc_id % 100 < 4].text
    assert near.str.contains(r" rep[0-3]$").all()


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,234", 1234.0),
        ("564 ms", 564.0),
        ("1.6 s", 1600.0),
        ("476.7 KiB", 476.7 * 1024),
        ("total (min, med, max (stageId: taskId))\n3.9 MiB (917.1 KiB, 1.0 MiB, "
         "1.1 MiB (stage 79.0: task 83))", 3.9 * 1024**2),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert sorted(w["name"] for w in spec["workloads"]) == [
        "spatial_join", "text_dedup", "tile_shave"]


def test_row_model_shave_and_wire_summary_agree_with_the_encoder():
    from vtshaver_spark.sources.mvt import rows_to_tile

    import bench
    from perfbench.workloads import row_model_shave, tile_summary

    rows = inputs.feature_rows(5)
    one = rows[(rows.x == rows.x.iloc[0]) & (rows.y == rows.y.iloc[0])]
    want = row_model_shave(one, bench.EXPRESSION_ROAD_STYLE, 16)
    (tile, layers), = want.items()
    assert set(layers) <= {"road", "poi_label", "water"}
    kept = [
        {**r, "props": {k: v for k, v in r["props"].items() if k in layers[r["layer"]][1]}}
        for r in one.to_dict("records")
        if r["layer"] in layers and r["feature_id"] in layers[r["layer"]][0]
    ]
    assert tile_summary(rows_to_tile(kept, compress=True)) == layers
    cafes = one[(one.layer == "poi_label") & one.props.map(lambda p: p.get("maki") == "cafe")]
    assert not set(cafes.feature_id) & set(layers.get("poi_label", ([], set()))[0])
