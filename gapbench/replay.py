"""Single-threaded kernel replay in the driver.

Spark runs the kernels inside Python workers that spans in the driver
cannot see into. The replay calls the same public kernel and codec
functions on the same generated inputs, with span wrappers on the
inner kernel calls, and derives the ``kernels.*`` and ``codecs``
per-layer metrics from the spans' self times.
"""

from __future__ import annotations

import time

import numpy as np

from gapbench.spans import Tracer, self_times
from gapbench.workloads import (Inputs, Spec, expected_filled, stable_seed)
from ssgp_toolbox_spark import codecs
from ssgp_toolbox_spark.kernels import batch, frame, nn, regressors
from ssgp_toolbox_spark.sentinels import GAP

LASSO_PX = 4                   # per viable knn_ladder input
LASSO_PARAMS = {"alpha": 1.0}  # the reference's default regressor


def _decoded(inputs: Inputs, clock: list[float]):
    """Decode every payload once; returns image_id -> array and adds
    decoded megabytes and seconds to ``clock``."""
    out = {}
    for image_id, payload, w, h, fmt, *_ in inputs.rows:
        t = time.perf_counter()
        out[image_id] = codecs.decode(payload, h, w, fmt)
        clock[0] += time.perf_counter() - t
        clock[1] += len(payload) / 1e6
    return out


def replay(spec: Spec, inputs: Inputs, spark_values: dict[str, np.ndarray]):
    """Fill every input the pass filled, one at a time in this thread.
    On knn_ladder the first ``LASSO_PX`` gap pixels of each input are
    also filled with Lasso through ``frame.fill_image``; no workload
    runs Lasso end to end (see README), and this gives the
    ``kernels.frame`` and ``kernels.regressors`` rows.

    ``spark_values`` maps image_id -> the Spark pass's output raster; the
    replay counts the filled pixels whose value differs from it.
    Returns (per-layer metrics, gap px the replay filled)."""
    tr = Tracer(spec.name)
    undo = [tr.wrap(batch, "select_coords", "kernels.batch.select_coords"),
            tr.wrap(batch, "fill_gathered_knn",
                    "kernels.batch.fill_gathered_knn"),
            tr.wrap(regressors, "fit_predict",
                    "kernels.regressors.fit_predict")]
    dec_clock = [0.0, 0.0]
    enc_s = enc_mb = 0.0
    phash_s = 0.0
    mismatch = gap_px = n_images = lasso_px = 0
    try:
        arrays = _decoded(inputs, dec_clock)
        for image_id, n_gap in sorted(expected_filled(spec, inputs).items()):
            site = image_id.split("/")[0]
            final = arrays[image_id]
            if spec.name == "nn_commit":
                with tr.span("kernels.nn.nn_interpolate"):
                    filled, _ = nn.nn_interpolate(final)
            else:
                tensor = np.stack([arrays[i] for i in sorted(arrays)
                                   if i.startswith(f"{site}/history/")])
                extra = next(a for i, a in arrays.items()
                             if i.startswith(f"{site}/extra/"))
                seed = stable_seed(image_id)
                with tr.span("kernels.batch.fill_image_knn"):
                    filled, _ = batch.fill_image_knn(
                        final, tensor, extra=extra,
                        predictor_configuration="Biome",
                        hyperparameters="Custom", params=spec.params,
                        seed=seed)
                # the per-pixel route of the reference's default
                # regressor, on the first LASSO_PX gap pixels
                with tr.span("kernels.frame.fill_image"):
                    frame.fill_image(
                        final, tensor, extra=extra, method="Lasso",
                        predictor_configuration="Biome",
                        hyperparameters="Custom", params=LASSO_PARAMS,
                        seed=seed, gap_slice=(0, LASSO_PX))
                lasso_px += min(LASSO_PX, n_gap)
            gap = final == GAP
            gap_px += int((gap & (filled != GAP)).sum())
            n_images += 1
            t = time.perf_counter()
            payload = codecs.encode(filled, codecs.FMT_F64)
            enc_s += time.perf_counter() - t
            enc_mb += len(payload) / 1e6
            t = time.perf_counter()
            codecs.phash64(filled)
            phash_s += time.perf_counter() - t
            got = spark_values.get(image_id)
            mismatch += int(gap.sum() if got is None
                            else (got[gap] != filled[gap]).sum())
    finally:
        for u in undo:
            u()

    own = self_times(tr.spans)
    kpx = max(gap_px, 1) / 1e3
    lasso_kpx = max(lasso_px, 1) / 1e3

    def self_s(name: str) -> float:
        return sum(own[s.id] for s in tr.spans if s.name == name)

    return {
        "kernels.batch.select_coords_s_per_kpx":
            tr.total("kernels.batch.select_coords") / kpx,
        "kernels.batch.fill_gathered_knn_s_per_kpx":
            tr.total("kernels.batch.fill_gathered_knn") / kpx,
        "kernels.frame.select_clean_s_per_kpx":
            self_s("kernels.frame.fill_image") / lasso_kpx,
        "kernels.regressors.fit_predict_s_per_kpx":
            tr.total("kernels.regressors.fit_predict") / lasso_kpx,
        "kernels.nn.nn_interpolate_s_per_kpx":
            tr.total("kernels.nn.nn_interpolate") / kpx,
        "codecs.decode_s_per_mb": dec_clock[0] / max(dec_clock[1], 1e-9),
        "codecs.encode_s_per_mb": enc_s / max(enc_mb, 1e-9),
        "codecs.phash64_ms_per_image": 1e3 * phash_s / max(n_images, 1),
        "replay.gap_px": gap_px,
        "replay.mismatch_px": mismatch,
    }, gap_px
