"""The reference's core query, Spark-first: per-point footprint
extraction — dissolved footprint area / proportion / area-weighted mean
age within buffer radii, plus capped nearest-feature distance.

Reimplements (semantics, not code):
- ``areadist``      — /root/reference/1_scripts/C_…R:84-130
- ``areadist.age``  — C_…R:135-197 (adds MEANAGE via YEAR recode)
- ``areadist.wet``  — D_…R:20-66  (no temporal filter, grouped by class)

as ONE parameterized pipeline:

  points ⟕ range_join_pairs(maxdist) → groupBy(point, layer).agg(...)

where the reference's 10,000-cell driver loop (C_…R:232-253) is the
shuffle on the hex cell id and its per-point R loop (C_…R:138-194) is
the grouped aggregation. LEFT semantics + coalesce reproduce the
empty-candidate defaults (AREA=0, PROP=0, MEANAGE=null,
NEAR_DIST=maxdist — C_…R:99,116-117,159).

Semantic parity notes (SURVEY.md §2.2 P7, §2.5 A4):
- PROP divisors use the literal π≈3.14 exactly as the reference does
  (C_…R:122-123): PROP150 = AREA150 / (3.14·150²);
- MEANAGE's numerator/denominator use the *per-clip* (non-dissolved)
  areas (C_…R:156-159) while AREA is the *dissolved* union area
  (C_…R:154). For pairwise-disjoint layers both equal Σ circle∩poly —
  the fixture guarantee; `dissolve="raster"` switches AREA to a
  deterministic supersampled union for overlapping layers;
- YEAR=0 sentinel polygons are recoded to the layer's oldest real year
  min(YEAR[YEAR>0]) before age math (C_…R:150, 231).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import kernels as K
from .range_join import is_valid_udf, range_join_pairs

__all__ = ["areadist", "areadist_wide", "dissolve_corrections_df", "PI_LITERAL"]

PI_LITERAL = 3.14  # the reference's literal (C_…R:122-123), not math.pi

_CORR_MARK = "__dissolve_fallback__"


def dissolve_corrections_df(polys: DataFrame, layer_col: str = "layer",
                            tile_size: float = 5000.0,
                            validity_filter: bool = False) -> DataFrame:
    """Inclusion–exclusion correction polygons per layer (st_union
    semantics, C_…R:99,154 — VERDICT r01 #8): a grouped pass over the
    feature table emits weighted pseudo-features (weight ±1, theta year
    = max of the subset) that ride the SAME cell-indexed join as real
    features, so dissolve costs nothing per point. Layers whose exact
    union needs a non-convex clip emit a marker row instead — the
    caller routes those layers to the raster fallback (and must drop
    every correction the layer's other tiles produced).

    Distributed build (VERDICT r02 missing-#2): features replicate to
    every `tile_size` coarse tile their bbox touches (JVM bbox +
    sequence/explode — no Python), and corrections are computed per
    (layer, tile) group, so one mega-layer spreads over
    (extent/tile_size)² tasks instead of serializing through a single
    Python worker. Exactly-once across replicas: a subset's term is
    emitted only by the tile containing its owner corner — the exact
    (max minx, max miny) over member bboxes, pure maxima of input
    doubles, identical in every replica (kernels.overlap_corrections
    with_owner). All members of a subset overlap that corner's tile by
    construction, so the owning tile always sees the whole subset.

    One Python pass per shuffle partition: the rows are hash-
    partitioned and sorted on (layer, tile), and a single mapInPandas
    call walks its partition's groups in order and streams their
    corrections out — per-group Arrow round trips (applyInPandas) cost
    several times the kernel work on small tiles. A group cut by an
    Arrow batch boundary is held over to the next batch, so a worker
    holds at most one group plus one batch. With `validity_filter`,
    invalid features (st_is_valid, C_…R:317) are dropped inside that
    pass, before the kernel, instead of in a separate UDF stage."""
    schema = T.StructType([
        T.StructField("feature_id", T.LongType()),
        T.StructField(layer_col, T.StringType()),
        T.StructField("poly_year", T.IntegerType()),
        T.StructField("geom", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("weight", T.DoubleType()),
    ])
    ts = float(tile_size)
    keys = (layer_col, "_tx", "_ty")

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        layer = pdf[layer_col].iloc[0]
        tx, ty = int(pdf["_tx"].iloc[0]), int(pdf["_ty"].iloc[0])
        # synthetic negative ids: 42-bit (layer, tile) salt × 2^20 slot
        # space per tile. ADVICE r03: the old 20-bit salt hit birthday
        # collisions (~50% at ~1200 groups) on mega-layers; 42 bits put
        # 50% at ~2.5M (layer, tile) groups, and the id-uniqueness
        # check in `areadist` (both join paths) catches the residue.
        base = -((int(pd.util.hash_pandas_object(
            pd.Series([f"{layer}|{tx}|{ty}"])).iloc[0]) % (1 << 42) + 1) << 20)
        rings = [K.feature_parts(g) for g in pdf["geom"]]
        years = pdf["poly_year"].to_numpy(np.int64)
        if validity_filter:
            keep = np.array([all(K.ring_is_valid(p) for p in f)
                             for f in rings], dtype=bool)
            rings = [r for r, k in zip(rings, keep) if k]
            years = years[keep]
        try:
            corrs = K.overlap_corrections(rings, years, with_owner=True)
        except K.DissolveFallback:
            return pd.DataFrame({
                "feature_id": [base], layer_col: [_CORR_MARK + layer],
                "poly_year": [0], "geom": [[[0.0] * 8]], "weight": [0.0],
            })
        rows = []
        i = 0
        for ring, y, w, (ox, oy) in corrs:
            if int(np.floor(ox / ts)) != tx or int(np.floor(oy / ts)) != ty:
                continue  # another replica owns this subset
            if i >= (1 << 20):  # would run into the next salt's id range
                raise ValueError(
                    f"dissolve_corrections_df: > 2^20 correction terms in "
                    f"tile ({layer!r}, {tx}, {ty}) — shrink tile_size")
            rows.append((base - 1 - i, layer, int(y),
                         [ring.ravel().tolist()], float(w)))
            i += 1
        return pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    def _groups(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held: list[pd.DataFrame] = []  # the open group's rows so far
        for pdf in batches:
            if pdf.empty:
                continue
            lay, tx, ty = (pdf[c].to_numpy() for c in keys)
            cuts = np.flatnonzero((lay[1:] != lay[:-1]) | (tx[1:] != tx[:-1])
                                  | (ty[1:] != ty[:-1])) + 1
            bounds = [0, *cuts.tolist(), len(pdf)]
            out = []
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                seg = pdf.iloc[lo:hi]
                if held and tuple(held[-1][list(keys)].iloc[-1]) \
                        != tuple(seg[list(keys)].iloc[0]):
                    out.append(_fn(pd.concat(held, ignore_index=True)))
                    held = []
                held.append(seg)
                if hi < len(pdf):  # the next row starts another group
                    out.append(_fn(pd.concat(held, ignore_index=True)))
                    held = []
            out = [o for o in out if len(o)]
            if out:
                yield pd.concat(out, ignore_index=True)
        if held:
            yield _fn(pd.concat(held, ignore_index=True))

    xs = F.flatten(F.expr("transform(geom, p -> filter(p, (v, i) -> i % 2 = 0))"))
    ys = F.flatten(F.expr("transform(geom, p -> filter(p, (v, i) -> i % 2 = 1))"))
    d = (polys.select("feature_id", layer_col, F.col("poly_year"), "geom")
         .withColumn("_tx0", F.floor(F.array_min(xs) / ts))
         .withColumn("_tx1", F.floor(F.array_max(xs) / ts))
         .withColumn("_ty0", F.floor(F.array_min(ys) / ts))
         .withColumn("_ty1", F.floor(F.array_max(ys) / ts)))
    tiles = F.expr(
        "flatten(transform(sequence(_tx0, _tx1), "
        "tx -> transform(sequence(_ty0, _ty1), "
        "ty -> struct(tx as tx, ty as ty))))")
    d = (d.select("feature_id", layer_col, "poly_year", "geom",
                  F.explode(tiles).alias("_t"))
         .select("feature_id", layer_col, "poly_year", "geom",
                 F.col("_t.tx").alias("_tx"), F.col("_t.ty").alias("_ty")))
    return (d.repartition(*keys).sortWithinPartitions(*keys)
            .mapInPandas(_groups, schema))


def _union_area_raster(px: float, py: float, radius: float,
                       features: list, grid: int = 512) -> float:
    """Supersampled area(circle ∩ ⋃ features); each feature is a ring
    array or a list of parts — inside = even-odd parity over the
    feature's rings (holes handled), union = OR across features."""
    g = np.linspace(px - radius, px + radius, grid)
    h = np.linspace(py - radius, py + radius, grid)
    gx, gy = np.meshgrid(g, h)
    inc = (gx - px) ** 2 + (gy - py) ** 2 <= radius * radius
    anyin = np.zeros_like(inc)
    for f in features:
        parts = ([f] if isinstance(f, np.ndarray) and f.ndim == 2
                 else [np.asarray(p, np.float64).reshape(-1, 2) for p in f])
        par = np.zeros_like(inc)
        for r in parts:
            if K.ring_is_closed(r):
                par ^= K.point_in_ring(gx.ravel(), gy.ravel(), r).reshape(gx.shape)
        anyin |= par
    cell = (g[1] - g[0]) * (h[1] - h[0])
    return float((inc & anyin).sum() * cell)


class _FeatureSide:
    """Eager half of `areadist`: everything that depends on the feature
    table alone — the validity filter, the dissolve corrections
    (checkpointed), the fallback-marker collect, the duplicate-id check
    and the join-side union. Built once, it serves any number of point
    sets (`extract_with_resume` builds one per call, not per bucket);
    `_areadist_apply` declares the lazy per-points plan over it."""

    # the `areadist` keywords this half takes; the rest are the apply's
    KEYWORDS = ("layer_col", "validity_filter", "broadcast_polys", "dissolve")

    def __init__(self, polys: DataFrame, *, layer_col: str = "layer",
                 validity_filter: bool = True, broadcast_polys: bool = False,
                 dissolve: str = "auto"):
        self.dissolve = dissolve
        self.broadcast_polys = broadcast_polys
        raw = polys.select(
            F.col("feature_id"), F.col(layer_col).alias("layer"),
            F.col("YEAR").alias("poly_year"), F.col("geom"),
        )
        self.pl = pl = (raw.filter(is_valid_udf()(F.col("geom")))
                        if validity_filter else raw)
        self.fallback_layers: list[str] = []
        join_side = pl.withColumn("weight", F.lit(1.0)) \
                      .withColumn("is_real", F.lit(True))
        if dissolve == "auto":
            # localCheckpoint (not persist): the marker collect below,
            # the join-side union, and (if broadcasting) the geometry-
            # index build all read it — one grouped computation, not
            # three — and the blocks are released by the ContextCleaner
            # when the plan is dropped, where persist() would park them
            # in the CacheManager forever (the ADVICE r02 minhash leak
            # pattern; checkpoint to reliable storage instead at 100 TB).
            # The validity check runs inside the correction pass.
            corr = dissolve_corrections_df(
                raw, validity_filter=validity_filter).localCheckpoint(eager=True)
            marks = corr.filter(F.col("layer").startswith(_CORR_MARK)) \
                        .select("layer").distinct().collect()
            self.fallback_layers = [r[0][len(_CORR_MARK):] for r in marks]
            corr = (corr.filter(~F.col("layer").startswith(_CORR_MARK))
                    .withColumn("is_real", F.lit(False)))
            if self.fallback_layers:
                # one tile's fallback sends the WHOLE layer to the raster
                # path — drop the corrections its other tiles produced
                corr = corr.filter(~F.col("layer").isin(self.fallback_layers))
            if not broadcast_polys:
                # ADVICE r03: the broadcast path's geometry index raises
                # on duplicate feature_id, but the shuffle-join path
                # factorizes fid inside pair_metrics_udf and would
                # silently refine against the wrong correction ring on a
                # salt collision. One tiny agg over the checkpointed ids
                # keeps both paths fail-loud (negligible vs the join it
                # protects).
                dup = (corr.groupBy("feature_id").count()
                       .filter(F.col("count") > 1).limit(1).count())
                if dup:
                    raise ValueError(
                        "dissolve_corrections_df: correction feature_id salt "
                        "collision across (layer, tile) groups — rerun with a "
                        "different tile_size")
            join_side = join_side.unionByName(corr)
        self.join_side = join_side


def areadist(
    points: DataFrame,
    polys: DataFrame,
    *,
    radii: tuple[float, ...] = (150.0, 565.0),
    maxdist: float = 1000.0,
    temporal: bool = True,
    age: bool = True,
    keys: tuple[str, ...] = ("PKEY", "SS", "YEAR"),
    layer_col: str = "layer",
    validity_filter: bool = True,
    broadcast_polys: bool = False,
    salt: int = 0,
    dissolve: str = "auto",
    pi_literal: float = PI_LITERAL,
    cell_edge_divisor: float = 4.0,
    observation=None,
) -> DataFrame:
    """One row per (point, layer): AREA<r>, PROP<r>, MEANAGE_<r> (if
    `age`), NEAR_DIST. `temporal`/`age` flags select the reference's
    areadist vs areadist.age vs areadist.wet variants.

    `dissolve` (the st_union in C_…R:99,154):
    - "auto" (default): exact union via precomputed inclusion–exclusion
      correction pseudo-features (geo/kernels.overlap_corrections);
      layers whose exact union is not S-H-computable fall back to the
      supersampled raster union automatically;
    - "sum": Σ of per-clip areas (exact only for disjoint layers — the
      reference's superseded variant, C_…R:101);
    - "raster": force the supersampled union everywhere.
    MEANAGE always uses the per-clip (non-dissolved) areas, the
    reference's dual-area-notion quirk (C_…R:154-159)."""
    side = _FeatureSide(polys, layer_col=layer_col,
                        validity_filter=validity_filter,
                        broadcast_polys=broadcast_polys, dissolve=dissolve)
    return _areadist_apply(
        points, side, radii=radii, maxdist=maxdist, temporal=temporal,
        age=age, keys=keys, salt=salt, pi_literal=pi_literal,
        cell_edge_divisor=cell_edge_divisor, observation=observation)


def _areadist_apply(
    points: DataFrame,
    side: _FeatureSide,
    *,
    radii: tuple[float, ...] = (150.0, 565.0),
    maxdist: float = 1000.0,
    temporal: bool = True,
    age: bool = True,
    keys: tuple[str, ...] = ("PKEY", "SS", "YEAR"),
    salt: int = 0,
    pi_literal: float = PI_LITERAL,
    cell_edge_divisor: float = 4.0,
    observation=None,
) -> DataFrame:
    """Lazy half of `areadist`: the per-points plan over a built
    _FeatureSide. No jobs run here."""
    point_side = points.select(*keys, "x", "y")
    pl, join_side = side.pl, side.join_side
    dissolve, fallback_layers = side.dissolve, side.fallback_layers
    broadcast_polys = side.broadcast_polys

    need_geom = dissolve == "raster" or bool(fallback_layers)
    theta = F.col("poly_year") < F.col("YEAR") if temporal else None
    pairs = range_join_pairs(
        point_side, join_side, maxdist, radii,
        theta=theta, broadcast_polys=broadcast_polys, salt=salt,
        keep_geom=need_geom, cell_edge_divisor=cell_edge_divisor,
    )

    if age:
        # layer-level scalar: oldest real construction year (C_…R:231)
        oldest = (
            pl.filter(F.col("poly_year") > 0)
            .groupBy("layer").agg(F.min("poly_year").alias("oldestyear"))
        )
        pairs = pairs.join(F.broadcast(oldest), "layer", "left")
        recoded = F.when(F.col("poly_year") == 0, F.col("oldestyear")) \
                   .otherwise(F.col("poly_year"))  # C_…R:150
        pairs = pairs.withColumn("page", F.col("YEAR") - recoded)

    # distance and MEANAGE see only REAL features; dissolve correction
    # pseudo-features contribute weight·area to the union sums only
    aggs = [F.least(F.min(F.when(F.col("is_real"), F.col("dist"))),
                    F.lit(float(maxdist))).alias("NEAR_DIST")]
    for r in radii:
        a = f"a{int(r)}"
        aggs.append(F.sum(F.col("weight") * F.col(a)).alias(f"AREA{int(r)}"))
        aggs.append(
            (F.sum(F.col("weight") * F.col(a))
             / F.lit(pi_literal * r * r)).alias(f"PROP{int(r)}")
        )
        if age:
            # Σ(age·clip_area)/Σ(clip_area) over candidates with a>0
            # (C_…R:156-159); null when nothing intersects the buffer.
            # Pairs with undefined age (YEAR=0 in a layer with no real
            # year → null oldestyear → null page) are excluded from
            # BOTH num and den (null-contribution semantics, ADVICE
            # r01 — same rule as oracle.py and the fused path).
            ok = (F.col(a) > 0) & F.col("page").isNotNull() & F.col("is_real")
            num = F.sum(F.when(ok, F.col("page") * F.col(a)))
            den = F.sum(F.when(ok, F.col(a)))
            aggs.append((num / den).alias(f"MEANAGE_{int(r)}"))

    got = pairs.groupBy(*keys, "layer").agg(*aggs)

    if need_geom:
        # raster-dissolved layers: union area via deterministic
        # supersampling (applyInPandas per point group — G5 fallback).
        # Under "auto" only the layers whose exact union raised
        # DissolveFallback take this path; under "raster", all do.
        key_fields = [pairs.schema[k] for k in (*keys, "layer")]
        fields = key_fields + [
            T.StructField(f"UAREA{int(r)}", T.DoubleType()) for r in radii
        ]
        kcols = (*keys, "layer")
        rpairs = pairs.filter(F.col("is_real"))
        if dissolve == "auto":
            rpairs = rpairs.filter(F.col("layer").isin(fallback_layers))

        def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
            rings = [K.feature_parts(g) for g in pdf["geom"]]
            row = {k: [pdf[k].iloc[0]] for k in kcols}
            px, py = float(pdf["x"].iloc[0]), float(pdf["y"].iloc[0])
            for r in radii:
                row[f"UAREA{int(r)}"] = [_union_area_raster(px, py, r, rings)]
            return pd.DataFrame(row)

        uareas = rpairs.groupBy(*kcols).applyInPandas(_fn, T.StructType(fields))
        got = got.join(uareas, [*kcols], "left")
        for r in radii:
            patched = F.coalesce(F.col(f"UAREA{int(r)}"), F.col(f"AREA{int(r)}"))
            got = (
                got.withColumn(f"AREA{int(r)}", patched)
                .withColumn(f"PROP{int(r)}",
                            F.col(f"AREA{int(r)}") / F.lit(pi_literal * r * r))
                .drop(f"UAREA{int(r)}")
            )

    # LEFT semantics: every point appears for every layer (J6;
    # row-count invariant C_…R:707-709)
    layers = pl.select("layer").distinct()
    base = points.crossJoin(F.broadcast(layers))
    out = base.join(got, [*keys, "layer"], "left")
    fills = {"NEAR_DIST": F.lit(float(maxdist))}
    for r in radii:
        fills[f"AREA{int(r)}"] = F.lit(0.0)
        fills[f"PROP{int(r)}"] = F.lit(0.0)
    for c, default in fills.items():
        out = out.withColumn(c, F.coalesce(F.col(c), default))

    if observation is not None:
        # job metrics (the engine's "accumulators") ride the action via
        # the Observation API — no extra job. Observed on the final
        # plan node (mid-plan CollectMetrics below an aggregation
        # yields a schema-less row in Spark 4.1 that Observation.get
        # cannot convert).
        r0 = int(radii[0])
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("rows_out"),
            F.round(F.avg("NEAR_DIST"), 3).alias("avg_near_dist"),
            F.sum(F.when(F.col(f"AREA{r0}") > 0, 1).otherwise(0))
             .alias(f"rows_with_area{r0}"),
        )
    return out


def areadist_wide(result: DataFrame, keys: tuple[str, ...] = ("PKEY", "SS", "YEAR"),
                  passthrough: tuple[str, ...] = (),
                  values: tuple[str, ...] | None = None) -> DataFrame:
    """The reference's 14-way suffix-rename + inner merge (C_…R:923-1208)
    collapsed into one pivot: metric columns become <METRIC>_<layer>.
    Pass `values` (the layer names) when known — pivot() otherwise runs
    an extra distinct-values job over the whole result first."""
    metric_cols = [c for c in result.columns
                   if c not in keys and c != "layer" and c not in passthrough]
    agg = [F.first(c).alias(c) for c in metric_cols]
    g = result.groupBy(*keys, *passthrough)
    p = g.pivot("layer", list(values)) if values else g.pivot("layer")
    return p.agg(*agg)
