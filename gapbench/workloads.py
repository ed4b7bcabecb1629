"""The gap-fill workloads: generated inputs, one pass each, and
the correctness gate every pass goes through.

Inputs come from ``ssgp_toolbox_spark.generator``, which derives every
random draw from the site string; a seed therefore becomes site names
``b<seed>s<k>``. A pass calls one public entry point and ends when its
action or commit completes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import zlib
from dataclasses import dataclass, field

import numpy as np

from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.sentinels import GAP, NODATA, SKIP, sentinel_stats

MIN_VALID_FILL = 101  # gapfill operators' default viability threshold
MIN_VALID_NN = 10     # kernels.nn.MIN_VALID
POOL_SITES = 512      # site pool searched for a gap-px target
GAP_PX_TOLERANCE = 0.01


@dataclass(frozen=True)
class Spec:
    name: str
    why: str
    entry: str
    sites: int
    n_history: int
    n_inputs: int
    shape: tuple[int, int]
    params: dict = field(default_factory=dict)
    # > 0: pick sites from a pool whose viable inputs hold about this
    # many gap pixels in total (see make_inputs)
    target_gap_px: int = 0


SPECS = {s.name: s for s in (
    Spec("knn_ladder",
         "Knn/Biome through gapfill_balanced over the 4/15/40/96 % gap "
         "ladder: the batched kernel and the chunk planner under skew",
         "operators.gapfill.gapfill_balanced",
         sites=2, n_history=12, n_inputs=4, shape=(100, 80),
         params={"n_neighbors": 5}, target_gap_px=25000),
    Spec("nn_commit",
         "nn_fill committed by checkpoint.run_checkpointed into an "
         "io.images table, resumed and read back: codecs and writes",
         "operators.checkpoint.run_checkpointed(operators.nn_fill.nn_fill)",
         sites=4, n_history=0, n_inputs=24, shape=(109, 62),
         params={"batch_rows": 48}, target_gap_px=241600),
)}


# ----------------------------------------------------------------- inputs


@dataclass
class Inputs:
    rows: list[tuple]                    # generator image rows
    truth: dict[str, tuple[str, int]]    # input image_id -> (site, t)
    stats: dict[str, dict] = field(default_factory=dict)  # input stats

    @property
    def payload_bytes(self) -> int:
        return sum(len(r[1]) for r in self.rows if r[0] in self.truth)


def _site_inputs(spec: Spec, site: str):
    rows = generator.site_rows(site, spec.n_history, spec.n_inputs,
                               shape=spec.shape)
    truth = {}
    for i in range(spec.n_inputs):
        t = spec.n_history + i
        truth[f"{site}/input/{generator.layer_ts(t)}"] = (site, t)
    return rows, truth


def _stats(row) -> dict:
    _id, payload, w, h, fmt = row[:5]
    return sentinel_stats(codecs.decode(payload, h, w, fmt))


def _site_gap_px(spec: Spec, site: str) -> int:
    """Gap pixels of the site's inputs the operator fills."""
    h, w = spec.shape
    total = 0
    for i in range(spec.n_inputs):
        frac = generator.GAP_LADDER[i % len(generator.GAP_LADDER)]
        s = sentinel_stats(generator.make_layer(
            site, h, w, spec.n_history + i, "input", gap_frac=frac))
        if s["valid_px"] > valid_floor(spec):
            total += s["gap_count"]
    return total


def make_inputs(spec: Spec, seed: int) -> Inputs:
    """The workload's inputs for ``seed`` (same seed, same inputs).

    With ``target_gap_px`` the sites ``b<seed>s<k>`` form a pool, and the
    first ``spec.sites`` of them whose inputs hold within
    ``GAP_PX_TOLERANCE`` of ``target_gap_px / spec.sites`` gap pixels to
    fill are taken, so every seed asks for the same amount of work."""
    inp = Inputs([], {})
    taken = 0
    per_site = spec.target_gap_px / spec.sites
    for k in range(POOL_SITES if spec.target_gap_px else spec.sites):
        site = f"b{seed}s{k}"
        if (spec.target_gap_px and abs(_site_gap_px(spec, site) - per_site)
                > GAP_PX_TOLERANCE * per_site):
            continue
        rows, truth = _site_inputs(spec, site)
        inp.rows += rows
        inp.truth.update(truth)
        inp.stats.update({r[0]: _stats(r) for r in rows if r[0] in truth})
        taken += 1
        if taken == spec.sites:
            return inp
    raise RuntimeError(f"seed {seed}: {taken} of {POOL_SITES} pool sites "
                       f"match the gap-px target of {spec.name}")


def to_frame(spark, rows):
    """Images DataFrame in the generator's schema, one row per slice
    (the layout ``generator.images_df`` uses)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ])
    sc = spark.sparkContext
    n = max(1, min(len(rows), sc.defaultParallelism))
    return spark.createDataFrame(sc.parallelize(rows, n), schema)


def stable_seed(image_id: str) -> int:
    """Per-image kernel seed the gapfill operators derive."""
    return zlib.crc32(image_id.encode()) & 0x7FFFFFFF


def valid_floor(spec: Spec) -> int:
    """Inputs with at most this many valid pixels are not filled."""
    return MIN_VALID_NN if spec.name == "nn_commit" else MIN_VALID_FILL


def expected_filled(spec: Spec, inputs: Inputs) -> dict[str, int]:
    """image_id -> gap count of every input the operator must fill."""
    return {i: s["gap_count"] for i, s in inputs.stats.items()
            if s["valid_px"] > valid_floor(spec) and s["gap_count"] > 0}


# ----------------------------------------------------------------- passes


@dataclass
class PassResult:
    run_s: float
    rows: list            # output rows: image_id, bytes, h, w, fmt, caption, status, filled_px
    resume_s: float = 0.0
    resume_snapshots: int = 0
    table_bytes: int = 0
    table_files: int = 0
    # Spark counters of the jobs the timed window (run_s) ran, when the
    # pass was given a counter mark
    spark: dict | None = None


OUT_COLS = ["image_id", "bytes", "h", "w", "fmt", "caption", "status",
            "filled_px"]


def run_pass(spec: Spec, spark, images, counters, tracer, work_dir: str,
             tag: str, deep: bool = False, mark=None) -> PassResult:
    """One closed-loop pass of the workload's entry point. With ``deep``
    the knn_ladder inputs go through ``deep_gapfill.gapfill_deep``, the
    planner that must give the same bytes. With a counter ``mark`` the
    result carries the Spark counters of the timed window: the operator
    call and its action, or for nn_commit the commit alone."""
    from pyspark.sql import functions as F

    from ssgp_toolbox_spark.operators import (checkpoint, deep_gapfill,
                                              gapfill, nn_fill)
    from ssgp_toolbox_spark.io import images as img_io

    if spec.name == "knn_ladder":
        layer = "operators.deep_gapfill" if deep else "operators.gapfill"
        kw = dict(method="Knn", predictor_configuration="Biome",
                  hyperparameters="Custom", params=spec.params)
        t0 = time.perf_counter()
        with counters.group(f"{tag}.call"), tracer.span(f"{layer}.call"):
            out = (deep_gapfill.gapfill_deep(images, **kw) if deep else
                   gapfill.gapfill_balanced(images, **kw))
        with counters.group(f"{tag}.action"), tracer.span(f"{layer}.action"):
            rows = out.select(*OUT_COLS).collect()
        if not deep:
            gapfill.release_broadcasts()
        run_s = time.perf_counter() - t0
        return PassResult(run_s, rows,
                          spark=counters.read(mark) if mark else None)

    # nn_commit: commit loop into a fresh table, resume, read back
    table = os.path.join(work_dir, f"table-{tag}")
    inputs = images.filter(F.col("role") == "input")
    targets = inputs.select("image_id")

    def compute(todo):
        with tracer.span("operators.nn_fill.call"):
            return nn_fill.nn_fill(inputs.join(todo, "image_id"))

    def commit():
        return checkpoint.run_checkpointed(
            targets, compute, spark, table, config={"op": "nn_fill"},
            batch_rows=spec.params.get("batch_rows"))

    t0 = time.perf_counter()
    with counters.group(f"{tag}.commit"), \
            tracer.span("operators.checkpoint.run"):
        commit()
    t1 = time.perf_counter()
    commit_counters = counters.read(mark) if mark else None
    t1r = time.perf_counter()
    with counters.group(f"{tag}.resume"), \
            tracer.span("operators.checkpoint.resume"):
        again = commit()
    t2 = time.perf_counter()
    with counters.group(f"{tag}.load"), tracer.span("io.images.load_count"):
        back = img_io.load(spark, table)
        back.count()
    rows = back.select(*OUT_COLS).collect()
    files = [os.path.join(d, f) for d, _, fs in os.walk(table) for f in fs]
    res = PassResult(t1 - t0, rows, resume_s=t2 - t1r,
                     resume_snapshots=len(again),
                     table_bytes=sum(os.path.getsize(f) for f in files),
                     table_files=len(files), spark=commit_counters)
    shutil.rmtree(table, ignore_errors=True)
    return res


# ---------------------------------------------------------- correctness


def digest(rows) -> str:
    """Hash of the sorted (image_id, bytes) pairs of a pass's output."""
    h = hashlib.sha256()
    for image_id, payload in sorted((r.image_id, bytes(r.bytes)) for r in rows):
        h.update(image_id.encode())
        h.update(len(payload).to_bytes(8, "little"))
        h.update(payload)
    return h.hexdigest()


@dataclass
class CheckResult:
    errors: list[str]
    filled_px: int        # Σ filled_px over status='filled' rows
    abs_err_sum: float    # Σ |fill - truth| over filled pixels
    abs_err_n: int


def check_pass(spec: Spec, inputs: Inputs, res: PassResult) -> CheckResult:
    """The correctness gate for one pass's output rows."""
    errors: list[str] = []
    src = {r[0]: r for r in inputs.rows if r[0] in inputs.truth}
    expect = expected_filled(spec, inputs)
    emitted = (set(src) if spec.name == "nn_commit" else
               {i for i, s in inputs.stats.items()
                if s["valid_px"] > valid_floor(spec)})
    ids = [r.image_id for r in res.rows]
    if sorted(ids) != sorted(emitted):
        errors.append(f"output ids differ from the {len(emitted)} expected "
                      f"({len(ids)} rows, {len(set(ids))} distinct)")
    filled_px = 0
    err_sum, err_n = 0.0, 0
    for r in res.rows:
        if r.image_id not in src:
            continue
        _id, payload, w, h, fmt, caption = src[r.image_id][:6]
        if r.caption != caption:
            errors.append(f"{r.image_id}: caption changed")
        if r.status != "filled":
            if r.image_id in expect:
                errors.append(f"{r.image_id}: status {r.status!r}, not filled")
            elif bytes(r.bytes) != payload:
                errors.append(f"{r.image_id}: {r.status} payload changed")
            continue
        orig = codecs.decode(payload, h, w, fmt)
        out = codecs.decode(bytes(r.bytes), int(r.h), int(r.w), r.fmt)
        gap = orig == GAP
        filled_px += int(r.filled_px)
        if int(r.filled_px) != int(gap.sum()):
            errors.append(f"{r.image_id}: filled_px {r.filled_px} != "
                          f"gap_count {int(gap.sum())}")
        if (out == GAP).any():
            errors.append(f"{r.image_id}: gap sentinel left in a filled image")
        if not (np.array_equal(out[orig == SKIP], orig[orig == SKIP])
                and np.array_equal(out[orig == NODATA],
                                   orig[orig == NODATA])):
            errors.append(f"{r.image_id}: skip or NoData pixels changed")
        if not np.array_equal(out[~gap], orig[~gap]):
            errors.append(f"{r.image_id}: non-gap pixels changed")
        site, t = inputs.truth[r.image_id]
        truth = generator.temperature_field(site, int(h), int(w), float(t))
        done = gap & (out != SKIP) & (out != GAP)
        err_sum += float(np.abs(out[done] - truth[done]).sum())
        err_n += int(done.sum())
    if filled_px != sum(expect.values()):
        errors.append(f"sum filled_px {filled_px} != sum gap_count "
                      f"{sum(expect.values())} of viable inputs")
    return CheckResult(errors, filled_px, err_sum, err_n)
