"""Seeded inputs for the extraction benchmark.

Everything here is pure NumPy/pandas: the same seed gives byte-identical
tables. The engine only ever sees them as Parquet files.

Geometry model: the 20 km x 20 km fixture window is cut into 100 m
slots. A layer places at most one footprint pair per slot: rect A and
rect B = A shifted right by half its width. Pairs of one layer overlap
only inside their slot, so each pair is exactly one dissolve correction
(A n B) for the engine and the oracle.

Varied per workload: the slot count per layer (footprint density, hence
candidates per point: a point sees every footprint within `MAXDIST`),
and `hot_share`, the share of a layer's pairs packed into the hot block,
a square of 5 % of the slots, so a few index cells hold most of the
candidate pairs (the skew of `data.synth`'s hot slots).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

X_LO, Y_LO = 400000.0, 6000000.0   # same window origin as data.geotag
SLOT = 100.0
NSLOT = 200                          # 200 x 200 slots = 20 km x 20 km
HOT_SIDE = 45                        # 45^2 = 2025 slots ~= 5 % of 40000
HOT_ORIGIN = (60, 60)                # fixed, away from the window edge
MAXDIST = 1000.0
RADII = (150.0, 565.0)

FOOT_LAYERS = tuple(f"L{i:02d}" for i in range(14))
WET_CLASSES = ("Bog", "Fen", "Marsh", "Open Water", "Swamp")
KEYS = ("PKEY", "SS", "YEAR")


def points_pdf(side: int, seed: int) -> pd.DataFrame:
    """`side`² survey points on a jittered grid over the window: one
    point uniform in each grid cell, so every region (the hot block
    included) holds the same number of points whatever the seed, and
    the work per job does not drift with it. (PKEY, SS, YEAR) unique."""
    rng = np.random.default_rng([seed, 1])
    n = side * side
    i = np.arange(n)
    cell = NSLOT * SLOT / side
    return pd.DataFrame({
        "PKEY": [f"P{k:07d}" for k in i],
        "SS": [f"S{k % 97:02d}" for k in i],
        "YEAR": rng.integers(1995, 2021, n).astype("int32"),
        "x": X_LO + (i % side + rng.random(n)) * cell,
        "y": Y_LO + (i // side + rng.random(n)) * cell,
    })


def _slots(n: int, hot_share: float, rng: np.random.Generator) -> np.ndarray:
    """`n` distinct slot ids, `hot_share` of them inside the hot block."""
    sx, sy = np.meshgrid(np.arange(NSLOT), np.arange(NSLOT))
    sx, sy = sx.ravel(), sy.ravel()
    hx, hy = HOT_ORIGIN
    hot = (sx >= hx) & (sx < hx + HOT_SIDE) & (sy >= hy) & (sy < hy + HOT_SIDE)
    ids = np.arange(NSLOT * NSLOT)
    n_hot = int(round(n * hot_share))
    if n_hot > hot.sum() or n - n_hot > (~hot).sum():
        raise ValueError(f"{n} footprints do not fit the slot grid")
    return np.concatenate([rng.choice(ids[hot], n_hot, replace=False),
                           rng.choice(ids[~hot], n - n_hot, replace=False)])


def rect_layers_pdf(per_layer: int, layers: tuple[str, ...], seed: int, *,
                    layer_col: str = "layer", hot_share: float = 0.05,
                    years: bool = True, stream: int = 2) -> pd.DataFrame:
    """`per_layer` overlapping rect pairs per layer. `years=False` gives
    every feature YEAR 0 (the wetland inventory has no construction
    year); otherwise 5 % of features carry the YEAR 0 sentinel."""
    rows = []
    for li, layer in enumerate(layers):
        rng = np.random.default_rng([seed, stream, li])
        slots = _slots(per_layer, hot_share, rng)
        hw = 10.0 + 15.0 * rng.random(per_layer)
        hh = 8.0 + 11.0 * rng.random(per_layer)
        yr = np.where(rng.random((per_layer, 2)) < 0.05, 0,
                      rng.integers(1970, 2020, (per_layer, 2)))
        ox = X_LO + (slots % NSLOT) * SLOT + 10.0
        oy = Y_LO + (slots // NSLOT) * SLOT + 10.0
        for k in range(per_layer):
            for j in range(2):
                x0 = ox[k] + j * hw[k]
                x1, y1 = x0 + 2 * hw[k], oy[k] + 2 * hh[k]
                ring = [x0, oy[k], x1, oy[k], x1, y1, x0, y1, x0, oy[k]]
                rows.append((li * 1_000_000 + 2 * k + j, layer,
                             int(yr[k, j]) if years else 0, [ring]))
    return pd.DataFrame({
        "feature_id": np.array([r[0] for r in rows], dtype="int64"),
        layer_col: [r[1] for r in rows],
        "YEAR": np.array([r[2] for r in rows], dtype="int32"),
        "geom": [r[3] for r in rows],
    })
