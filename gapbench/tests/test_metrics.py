import json
import re
from collections import namedtuple
from pathlib import Path

import numpy as np

from gapbench import workloads as W
from gapbench.run import END_TO_END_UNITS
from gapbench.sparkstats import parse_metric_total
from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.sentinels import GAP, NODATA, SKIP, sentinel_stats

BENCH = json.loads((Path(__file__).resolve().parents[2]
                    / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_metric_names_and_units():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64 and n[0].isalnum(), n
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} \
        == END_TO_END_UNITS
    assert {w["name"] for w in BENCH["workloads"]} == set(W.SPECS)


def test_parse_metric_total():
    assert parse_metric_total("12 ms") == 0.012
    assert parse_metric_total(
        "total (min, med, max (stageId: taskId))\n"
        "1.5 s (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == 1.5
    assert parse_metric_total("2.0 KiB") == 2048.0
    assert parse_metric_total("109") == 109.0


Row = namedtuple("Row", W.OUT_COLS)


def _one_image():
    site, t, (h, w) = "mae", 5, (12, 10)
    truth = generator.temperature_field(site, h, w, float(t))
    orig = truth.copy()
    orig[2, 3:6] = GAP
    orig[7, 4] = GAP
    orig[0, 0] = SKIP
    orig[:, -1] = NODATA
    image_id = f"{site}/input/{generator.layer_ts(t)}"
    row = (image_id, codecs.encode(orig, codecs.FMT_F64), w, h,
           codecs.FMT_F64, "caption", 0)
    inputs = W.Inputs([row], {image_id: (site, t)},
                      {image_id: sentinel_stats(orig)})
    return inputs, orig, truth, image_id


def _result(image_id, out, n_gap):
    h, w = out.shape
    return W.PassResult(1.0, [Row(image_id, codecs.encode(out, codecs.FMT_F64),
                                  h, w, codecs.FMT_F64, "caption", "filled",
                                  n_gap)])


def test_fill_mae_on_one_image():
    inputs, orig, truth, image_id = _one_image()
    spec = W.SPECS["nn_commit"]   # fill threshold of 10 valid px
    out = orig.copy()
    deltas = np.array([0.5, -1.5, 2.0, -4.0])
    gaps = np.argwhere(orig == GAP)
    out[gaps[:, 0], gaps[:, 1]] = truth[gaps[:, 0], gaps[:, 1]] + deltas
    ck = W.check_pass(spec, inputs, _result(image_id, out, len(gaps)))
    assert ck.errors == []
    assert ck.filled_px == 4 and ck.abs_err_n == 4
    assert np.isclose(ck.abs_err_sum / ck.abs_err_n, np.abs(deltas).mean())


def test_gate_catches_leftover_gap_and_changed_skip():
    inputs, orig, truth, image_id = _one_image()
    spec = W.SPECS["nn_commit"]
    out = np.where(orig == GAP, truth, orig)
    out[2, 3] = GAP
    out[0, 0] = 280.0
    errs = W.check_pass(spec, inputs, _result(image_id, out, 4)).errors
    assert any("gap sentinel left" in e for e in errs)
    assert any("skip or NoData" in e for e in errs)
