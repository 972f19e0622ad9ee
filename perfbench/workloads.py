"""The benchmark's workloads: inputs, the job each operation runs, the
output check against the serial oracle, and the per-layer probes.

Every job goes through the engine's public entry points only and reads
nothing but the generated Parquet inputs.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs as G
from extract_sf_r_parallel_spark.geo import index as I
from extract_sf_r_parallel_spark.geo import kernels as K
from extract_sf_r_parallel_spark.operators.areadist import (
    areadist, areadist_wide, dissolve_corrections_df)
from extract_sf_r_parallel_spark.operators.areadist_fused import (
    areadist_auto, clear_index_cache)
from extract_sf_r_parallel_spark.operators.range_join import (
    explode_poly_cells, is_valid_udf, range_join_pairs, with_cell)
from extract_sf_r_parallel_spark.oracle import areadist_oracle
from extract_sf_r_parallel_spark.sources.lineage import (
    LineageManifest, extract_with_resume)

# cell resolution the engine picks for MAXDIST (edge = MAXDIST / 4)
CODE = I.code_for_radius(max(G.MAXDIST / 4.0, I.RESOLUTIONS[0]))
N_ORACLE_POINTS = 8
N_BUCKETS = 4  # crash after 2, resume the other 2 (see README.md)
PROBE_BUCKETS = 2  # the lineage probe on workloads whose job has no buckets
RTOL, ATOL = 1e-7, 1e-6

FOOT = {"table": "foot", "layers": G.FOOT_LAYERS, "layer_col": "layer",
        "kw": {}}
WET = {"table": "wet", "layers": G.WET_CLASSES, "layer_col": "CWCS_Class",
       "kw": {"temporal": False, "age": False, "layer_col": "CWCS_Class"}}


class Workload:
    """One set of seeded inputs plus the job an operation runs on them."""

    name = ""
    sets: tuple[dict, ...] = (FOOT,)

    def __init__(self, seed: int):
        self.seed = seed

    # -- inputs ----------------------------------------------------------
    def tables(self) -> dict[str, pd.DataFrame]:
        raise NotImplementedError

    def write_inputs(self, in_dir: str) -> dict[str, pd.DataFrame]:
        tabs = self.tables()
        for name, pdf in tabs.items():
            pdf.to_parquet(os.path.join(in_dir, f"{name}.parquet"), index=False)
        self.in_dir = in_dir
        self.n_points = len(tabs["points"])
        self.n_layers = sum(len(s["layers"]) for s in self.sets)
        return tabs

    def read(self, spark, name: str):
        return spark.read.parquet(os.path.join(self.in_dir, f"{name}.parquet"))

    def oracle(self, tabs: dict[str, pd.DataFrame]) -> pd.DataFrame:
        """Serial-oracle rows (one per point and layer) for a fixed
        sample of points."""
        rng = np.random.default_rng([self.seed, 9])
        pts = tabs["points"]
        pick = rng.choice(len(pts), min(N_ORACLE_POINTS, len(pts)), replace=False)
        sample = pts.iloc[np.sort(pick)].reset_index(drop=True)
        self.sample_keys = list(sample["PKEY"])
        return pd.concat([areadist_oracle(sample, tabs[s["table"]], **s["kw"])
                          for s in self.sets], ignore_index=True)

    # -- one operation -----------------------------------------------------
    def job(self, spark, tr, out_dir: str) -> dict:
        raise NotImplementedError

    def warm_up(self, spark, tr, out_dir: str) -> None:
        """Run every code path of `job` once (JIT, codegen, workers)."""
        self.job(spark, tr, out_dir)

    def output_long(self, out: pd.DataFrame, pkeys) -> pd.DataFrame:
        """One row per (point, layer) of the output rows for `pkeys`."""
        return out[out["PKEY"].isin(pkeys)]

    def expected_rows(self) -> int:
        return self.n_points * self.n_layers

    def check(self, out_dir: str, want: pd.DataFrame, info: dict) -> list[str]:
        """Problems found in the committed output; empty when correct.
        The output is small, so it is read back without Spark."""
        errs = []
        out = pd.read_parquet(out_dir)
        if len(out) != self.expected_rows():
            errs.append(f"{len(out)} output rows, expected {self.expected_rows()}")
        got = self.output_long(out, want["PKEY"].unique())
        key = ["PKEY", "layer"]
        m = want.merge(got, on=key, how="left", suffixes=("", "_got"),
                       indicator=True)
        if (m["_merge"] != "both").any():
            errs.append(f"{int((m['_merge'] != 'both').sum())} oracle rows missing")
            return errs
        for c in want.columns:
            if c in key or c in ("SS", "YEAR"):
                continue
            if c + "_got" not in m:
                errs.append(f"output has no {c} column")
                continue
            a = m[c].to_numpy(np.float64)
            b = pd.to_numeric(m[c + "_got"], errors="coerce").to_numpy(np.float64)
            bad = ~np.isclose(a, b, rtol=RTOL, atol=ATOL, equal_nan=True)
            if bad.any():
                errs.append(f"{c}: {int(bad.sum())} rows differ from the oracle")
        return errs

    # -- per-layer probes (traced pass only) -----------------------------
    def probes(self, spark, tr, work: str) -> dict[str, float]:
        """Every layer timed on this workload's inputs through its public
        function, so each figure is measured on every workload."""
        out = {}
        out.update(self._corrections_probe(spark, tr))
        out.update(self._kernel_probes(tr))
        out.update(self._range_join_probe(spark, tr))
        out.update(self._fused_probe(spark, tr, work))
        out.update(self._lineage_probe(spark, tr, work))
        return out

    def _wide(self, longs: list):
        """areadist_wide per layer set, inner-merged on the point keys."""
        wides = [areadist_wide(df, values=s["layers"])
                 for df, s in zip(longs, self.sets)]
        out = wides[0]
        for w in wides[1:]:
            out = out.join(w, list(G.KEYS), "inner")
        return out

    def _fused_probe(self, spark, tr, work: str) -> dict[str, float]:
        """Per layer set: the eager areadist_auto build and the write
        after it; then the pivot and merge over what was written."""
        build = apply = 0.0
        longs = []
        for i, s in enumerate(self.sets):
            clear_index_cache()
            pts, polys = self.read(spark, "points"), self.read(spark, s["table"])
            with tr.span("areadist_fused.areadist_auto", table=s["table"]):
                t0 = time.perf_counter()
                df = areadist_auto(pts, polys, **s["kw"])
                build += time.perf_counter() - t0
            path = os.path.join(work, f"long{i}")
            with tr.span("areadist_fused.apply", table=s["table"]):
                t0 = time.perf_counter()
                df.write.parquet(path)
                apply += time.perf_counter() - t0
            longs.append(spark.read.parquet(path))
        with tr.span("areadist.wide_merge"):
            t0 = time.perf_counter()
            self._wide(longs).write.format("noop").mode("overwrite").save()
            merge = time.perf_counter() - t0
        return {"areadist_fused.build_s": build, "areadist_fused.apply_s": apply,
                "areadist.wide_merge_s": merge}

    def _lineage_probe(self, spark, tr, work: str) -> dict[str, float]:
        """A crash after half of PROBE_BUCKETS buckets and a resume,
        first layer set."""
        return lineage_figures(crash_and_resume(
            spark, tr, self.read(spark, "points"),
            self.read(spark, self.sets[0]["table"]),
            os.path.join(work, "lineage"), PROBE_BUCKETS))

    def _corrections_probe(self, spark, tr) -> dict[str, float]:
        t, rows = 0.0, 0
        for s in self.sets:
            pl = (self.read(spark, s["table"])
                  .select("feature_id", F.col(s["layer_col"]).alias("layer"),
                          F.col("YEAR").alias("poly_year"), "geom")
                  .filter(is_valid_udf()(F.col("geom"))))
            with tr.span("areadist.dissolve_corrections_df", table=s["table"]):
                t0 = time.perf_counter()
                rows += len(dissolve_corrections_df(pl).toPandas())
                t += time.perf_counter() - t0
        return {"areadist.corrections_s": t, "areadist.corrections_rows": rows}

    def _kernel_probes(self, tr) -> dict[str, float]:
        """Driver-only kernel timings over the workload's own features."""
        polys = pd.concat([pd.read_parquet(
            os.path.join(self.in_dir, f"{s['table']}.parquet"))
            for s in self.sets], ignore_index=True)
        rings = [K.feature_parts(g) for g in polys["geom"]]
        bbox = np.array([[r[0][:, 0].min(), r[0][:, 1].min(),
                          r[0][:, 0].max(), r[0][:, 1].max()] for r in rings])
        d = G.MAXDIST
        pack_t, cover_t = [], []
        for _ in range(3):
            with tr.span("geo.kernels.PackedRings"):
                t0 = time.perf_counter()
                packed = K.PackedRings(rings)
                pack_t.append(time.perf_counter() - t0)
            with tr.span("geo.index.cover_bbox_many"):
                t0 = time.perf_counter()
                cells, _ = I.cover_bbox_many(bbox[:, 0] - d, bbox[:, 1] - d,
                                             bbox[:, 2] + d, bbox[:, 3] + d, CODE)
                cover_t.append(time.perf_counter() - t0)
        # fixed candidate-pair sample: the first 400 points against every
        # feature whose bbox lies within MAXDIST
        pts = pd.read_parquet(os.path.join(self.in_dir, "points.parquet")).head(400)
        px, py = pts["x"].to_numpy(), pts["y"].to_numpy()
        dx = np.maximum(np.maximum(bbox[None, :, 0] - px[:, None],
                                   px[:, None] - bbox[None, :, 2]), 0)
        dy = np.maximum(np.maximum(bbox[None, :, 1] - py[:, None],
                                   py[:, None] - bbox[None, :, 3]), 0)
        ppi, ridx = np.nonzero(dx * dx + dy * dy < d * d)
        pair_t = []
        for _ in range(3):
            with tr.span("geo.kernels.packed_pair_metrics", pairs=len(ppi)):
                t0 = time.perf_counter()
                K.packed_pair_metrics(px[ppi], py[ppi], ridx, packed, G.RADII)
                pair_t.append(time.perf_counter() - t0)
        return {"geo.kernels.pack_s": float(np.median(pack_t)),
                "geo.kernels.pairs_per_s": len(ppi) / float(np.median(pair_t)),
                "geo.index.cover_s": float(np.median(cover_t)),
                "geo.index.cells_per_feature": len(cells) / len(rings)}

    def _range_join_probe(self, spark, tr) -> dict[str, float]:
        """Cell-join candidates vs refined pairs of the first layer set."""
        s = self.sets[0]
        pts = self.read(spark, "points").select("PKEY", "x", "y")
        polys = self.read(spark, s["table"]).select("feature_id", "geom")
        cand = (with_cell(pts, CODE)
                .join(explode_poly_cells(polys, G.MAXDIST, CODE), "cell"))
        with tr.span("range_join.candidates"):
            n_cand = cand.count()
        with tr.span("range_join.range_join_pairs"):
            t0 = time.perf_counter()
            n_ref = range_join_pairs(pts, polys, G.MAXDIST, G.RADII).count()
            t = time.perf_counter() - t0
        return {"range_join.pairs_s": t, "range_join.candidate_pairs": n_cand,
                "range_join.refined_pairs": n_ref,
                "range_join.useful_ratio": n_ref / max(n_cand, 1)}


class WideFused(Workload):
    """The paper's capstone table through the broadcast fused path."""

    name = "wide_fused"
    sets = (FOOT, WET)

    def tables(self):
        return {
            "points": G.points_pdf(45, self.seed),
            "foot": G.rect_layers_pdf(40, G.FOOT_LAYERS, self.seed),
            "wet": G.rect_layers_pdf(60, G.WET_CLASSES, self.seed,
                                     layer_col="CWCS_Class", years=False,
                                     stream=3),
        }

    def _long(self, spark, tr, s: dict):
        with tr.span("sources.scan", table=s["table"]):
            pts, polys = self.read(spark, "points"), self.read(spark, s["table"])
        with tr.span("areadist_fused.areadist_auto", table=s["table"]):
            return areadist_auto(pts, polys, **s["kw"])

    def job(self, spark, tr, out_dir):
        longs = [self._long(spark, tr, s) for s in self.sets]
        with tr.span("areadist.areadist_wide"):
            wide = self._wide(longs)
        with tr.span("areadist_fused.apply"):
            wide.write.parquet(out_dir)
        return {}

    def expected_rows(self):
        return self.n_points  # the inner merge keeps one row per point

    def output_long(self, out, pkeys):
        wide = out[out["PKEY"].isin(pkeys)]
        parts = []
        for s in self.sets:
            for layer in s["layers"]:
                cols = {c: c[len(layer) + 1:] for c in wide.columns
                        if c.startswith(layer + "_")}
                p = wide[["PKEY", *cols]].rename(columns=cols)
                p["layer"] = layer
                parts.append(p)
        return pd.concat(parts, ignore_index=True)


class JoinShuffle(Workload):
    """The same semantics through the shuffle join path, on dense and
    skewed footprints. Not in BENCHMARK.json (see README.md)."""

    name = "join_shuffle"

    def tables(self):
        return {
            "points": G.points_pdf(32, self.seed),
            "foot": G.rect_layers_pdf(200, G.FOOT_LAYERS, self.seed,
                                      hot_share=0.8),
        }

    def job(self, spark, tr, out_dir):
        with tr.span("sources.scan"):
            pts, polys = self.read(spark, "points"), self.read(spark, "foot")
        with tr.span("areadist.areadist"):
            out = areadist(pts, polys, broadcast_polys=False)
        with tr.span("areadist.apply"):
            out.write.parquet(out_dir)
        return {}


class ResumeHalf(Workload):
    """Bucketed extraction with a simulated crash after half the
    buckets, then a resume to completion, on the skewed footprints."""

    name = "resume_half"

    def tables(self):
        return {
            "points": G.points_pdf(16, self.seed),
            "foot": G.rect_layers_pdf(20, G.FOOT_LAYERS, self.seed,
                                      hot_share=0.8),
        }

    def job(self, spark, tr, out_dir):
        with tr.span("sources.scan"):
            pts, polys = self.read(spark, "points"), self.read(spark, "foot")
        self.last = crash_and_resume(spark, tr, pts, polys, out_dir, N_BUCKETS)
        return self.last

    def _lineage_probe(self, spark, tr, work):
        # every job already crashes and resumes: the last job's figures
        return lineage_figures(self.last)

    def warm_up(self, spark, tr, out_dir):
        # one bucket: the rest of the job runs the same code per bucket
        extract_with_resume(spark, self.read(spark, "points"),
                            self.read(spark, "foot"), out_dir,
                            n_buckets=N_BUCKETS, max_buckets_this_run=1)

    def check(self, out_dir, want, info):
        errs = super().check(out_dir, want, info)
        if info["buckets_rerun"]:
            errs.append(f"resume re-ran {info['buckets_rerun']} committed buckets")
        if info["buckets_done"] != N_BUCKETS:
            errs.append(f"{info['buckets_done']} of {N_BUCKETS} buckets committed")
        return errs


def crash_and_resume(spark, tr, pts, polys, out_dir: str,
                     n_buckets: int) -> dict:
    """extract_with_resume stopped after half the buckets, then resumed
    to completion; what the manifest and the output directory show."""
    with tr.span("lineage.extract_with_resume", part="crash"):
        first = extract_with_resume(spark, pts, polys, out_dir,
                                    n_buckets=n_buckets,
                                    max_buckets_this_run=n_buckets // 2)
    t0 = time.perf_counter()
    with tr.span("lineage.extract_with_resume", part="resume"):
        second = extract_with_resume(spark, pts, polys, out_dir,
                                     n_buckets=n_buckets)
    resume_s = time.perf_counter() - t0
    recs = LineageManifest(os.path.join(out_dir, "_lineage", "manifest.jsonl"))
    with open(recs.path) as f:
        commits = [line for line in f if line.strip()]
    done = recs.completed()
    rerun = (len(set(first["ran"]) & set(second["ran"]))
             + len(commits) - len(done))
    size = sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(out_dir) for f in fs
               if not d.endswith("_lineage"))
    return {"resume_s": resume_s, "buckets_rerun": rerun,
            "bucket_s": [r["wall_s"] for r in done.values()],
            "bytes_written": size, "buckets_done": len(done)}


def lineage_figures(r: dict) -> dict[str, float]:
    return {"lineage.bucket_s": float(np.median(r["bucket_s"])),
            "lineage.buckets_rerun": r["buckets_rerun"],
            "lineage.bytes_written": r["bytes_written"]}


WORKLOADS = {w.name: w for w in (WideFused, JoinShuffle, ResumeHalf)}
