"""The flagship operator: distributed point-in-region spatial join.

Design (SURVEY.md §2.7, replacing the reference's single-machine
``S2EdgeIndex`` probe, S2EdgeIndex.php:85-147,385-448):

1. **Plan-time covering build (driver)**: for each region, compute an
   exterior covering (candidate superset) and flag every cell the
   region fully contains ``is_interior``, so each candidate row is
   either interior (skip refine) or boundary (needs the exact kernel)
   — the filter/refine optimization the reference encodes as interior
   coverings (S2RegionCoverer.php:257-267).

2. **Broadcast equi-join on banded prefixes**: each covering cell at
   level L matches probes via ``s2_parent(leaf_id, L) = cell_id`` — a
   pure hash equi-join per distinct level (few: coverings hold <=
   max_cells cells across ~4-6 levels), unioned via ``explode`` of a
   per-probe prefix array.  No theta/range join, no shuffle of the
   (big) probe side: the covering table is broadcast
   (north rule: "broadcast of covering-cell polygon indexes").

3. **Refine**: survivors matched through a boundary cell run the
   vectorized ``contains_points`` kernel (loop parity / cap chord /
   rect interval) via a pandas UDF over Arrow batches; interior
   matches pass through untouched.

Steps 2 and 3 are one skeleton, :func:`_covering_join`, shared by the
driver-side region list (:func:`spatial_join`), the region dimension
table (:func:`spatial_join_region_table`) and the polyline proximity
join (``polyline_join``): each supplies its covering rows and a per-key
kernel, nothing else.

At 100 TB scale: stage 2 is map-side only (scan -> project -> BHJ);
the only shuffles in a typical pipeline are the caller's final
aggregations.  Skewed hot tiles don't matter for the join itself
(broadcast joins don't shuffle by key); skew handling matters for the
downstream groupBys and is provided by ``tiling.salted_repartition``.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions.sql_bitops import _signed64, s2_parent
from ..s2core.cellid import level_scalar
from ..s2core.coverer import RegionCoverer, normalize_cell_union
from ..s2core.region import Region, region_from_params

COVERING_SCHEMA = StructType(
    [
        StructField("region_id", LongType()),
        StructField("cov_cell", LongType()),
        StructField("cov_level", IntegerType()),
        StructField("is_interior", BooleanType()),
    ]
)


#: builds a key's refine kernel from the key and its geometry values;
#: the kernel maps unit xyz points (n, 3) to a bool containment mask
KernelFor = Callable[[int, list], Callable[[np.ndarray], np.ndarray]]

# Banded level grid for the join coverings: every covering cell sits
# at one of these levels, so the probe side only materializes 4 prefix
# keys per row (the "banded-prefix equi-join" of SURVEY.md §2.7)
# instead of one per arbitrary level.  The coverer's own
# min_level/level_mod machinery (S2RegionCoverer.php:107-146,
# denormalize S2CellUnion.php:111-135) produces grid-conformant
# coverings natively: min 4, mod 3 -> levels {4, 7, 10, 13}.
JOIN_LEVEL_GRID = (4, 7, 10, 13)


def compute_coverings(
    regions: list[dict],
    max_cells: int = 96,
    min_level: int = JOIN_LEVEL_GRID[0],
    max_level: int = JOIN_LEVEL_GRID[-1],
    level_mod: int = 3,
) -> list[tuple[int, int, int, bool]]:
    """Driver-side covering rows: (region_id, cell_id_signed, level,
    is_interior).  Memoized — coverings are deterministic functions of
    the region spec + parameters.

    The exterior covering (disjoint, grid-conformant via the coverer's
    min_level/level_mod) is the candidate set; each cell is then
    flagged ``is_interior`` with an exact region.contains_cell test —
    the interior/exterior refine split (S2RegionCoverer.php:257-267)
    without a second covering pass.  Disjointness guarantees a probe
    matches at most one covering row per region, so the join needs no
    dedup shuffle."""
    key = (
        tuple(
            (r["region_id"], r["kind"], tuple(r["params"]),
             tuple(r.get("loop_offsets") or ()))
            for r in regions
        ),
        max_cells, min_level, max_level, level_mod, 3,
    )
    cached = _COVERING_CACHE.get(key)
    if cached is not None:
        return cached
    disk = _disk_cache_load(key)
    if disk is not None:
        _COVERING_CACHE[key] = disk
        return disk
    rows = _covering_rows(
        (
            (int(r["region_id"]),
             _region(r["kind"], r["params"], r.get("loop_offsets")))
            for r in regions
        ),
        max_cells, min_level, max_level, level_mod,
    )
    _COVERING_CACHE[key] = rows
    _disk_cache_store(key, rows)
    return rows


def _region(kind: str, params, loop_offsets=None) -> Region:
    """Region from its table encoding (REGION_TABLE_SCHEMA); Arrow
    hands the array columns over as numpy arrays."""
    return region_from_params(
        kind,
        [float(x) for x in params],
        None if loop_offsets is None else [int(x) for x in loop_offsets],
    )


def _covering_rows(
    regions: Iterable[tuple[int, Region]],
    max_cells: int,
    min_level: int,
    max_level: int,
    level_mod: int,
) -> list[tuple[int, int, int, bool]]:
    """COVERING_SCHEMA rows of (region_id, region) pairs: each region's
    exterior covering, every cell flagged ``is_interior`` by an exact
    ``contains_cell`` test."""
    from ..s2core.cell import Cell

    rows = []
    for region_id, region in regions:
        cells = RegionCoverer(
            min_level=min_level,
            max_level=max_level,
            level_mod=level_mod,
            max_cells=max_cells,
        ).get_covering(region)
        rows += [
            (region_id, _signed64(c), level_scalar(c),
             bool(region.contains_cell(Cell(c))))
            for c in cells
        ]
    return rows


_COVERING_CACHE: dict = {}
_DISK_CACHE_DIR = os.path.join(tempfile.gettempdir(), "s2spark_covering_cache")


def _disk_key(key) -> str:
    import hashlib

    return hashlib.md5(repr(key).encode()).hexdigest()


def _disk_cache_load(key):
    """Coverings are pure functions of the region specs; cache across
    processes so repeated bench/driver runs skip the coverer."""
    path = os.path.join(_DISK_CACHE_DIR, _disk_key(key) + ".json")
    try:
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    except (OSError, ValueError):
        return None


def _disk_cache_store(key, rows) -> None:
    try:
        os.makedirs(_DISK_CACHE_DIR, exist_ok=True)
        path = os.path.join(_DISK_CACHE_DIR, _disk_key(key) + ".json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([list(r) for r in rows], f)
        os.replace(tmp, path)
    except OSError:
        pass


def cell_union_difference(a_cells: list[int], b_cells: list[int]) -> list[int]:
    """Cell set A \\ B (S2CellUnion getDifference semantics,
    S2CellUnion.php:227-313 family): split A cells recursively until
    disjoint from or contained in B."""
    if not b_cells:
        return [x & 0xFFFFFFFFFFFFFFFF for x in a_cells]
    b_ranges = sorted(
        ((c - ((c & -c) - 1)) & 0xFFFFFFFFFFFFFFFF,
         (c + ((c & -c) - 1)) & 0xFFFFFFFFFFFFFFFF)
        for c in (x & 0xFFFFFFFFFFFFFFFF for x in b_cells)
    )

    def overlaps(lo: int, hi: int) -> str:
        # returns 'none' | 'full' | 'partial' vs the b range set
        for blo, bhi in b_ranges:
            if bhi < lo:
                continue
            if blo > hi:
                break
            if blo <= lo and hi <= bhi:
                return "full"
            return "partial"
        return "none"

    out: list[int] = []

    def rec(c: int) -> None:
        lsb = c & (-c & 0xFFFFFFFFFFFFFFFF)
        lo, hi = c - (lsb - 1), c + (lsb - 1)
        state = overlaps(lo, hi)
        if state == "none":
            out.append(c)
            return
        if state == "full":
            return
        if lsb == 1:  # leaf that still partially overlaps: keep
            out.append(c)
            return
        child = c - lsb + (lsb >> 2)
        step = (lsb >> 2) << 1
        for k in range(4):
            rec(child + k * step)

    for c in (x & 0xFFFFFFFFFFFFFFFF for x in a_cells):
        rec(c)
    return normalize_cell_union(out)


def build_covering_table(
    spark: SparkSession, regions: list[dict], **kwargs
) -> DataFrame:
    rows = compute_coverings(regions, **kwargs)
    return spark.createDataFrame(rows, COVERING_SCHEMA)


def bbox_prefilter_expr(regions: list[dict], lat_col: str, lon_col: str):
    """Cheap OR-of-rect-bounds prefilter — the reference's own first
    optimization (every region op starts with a rect/cap bound check,
    S2Loop.php:382-389, S2Cap.php:176-180), lifted to a whole-stage-
    codegen scalar predicate evaluated BEFORE the prefix explode and
    broadcast join.  Probes outside every region's lat/lng bound skip
    the join entirely, cutting the exploded-row volume by the bbox
    selectivity.  Conservative: bounds widened by 1e-9 degrees against
    radian->degree rounding.  The longitude compare mirrors the refine
    kernel's lng==-pi -> +pi remap (a doc at exactly lon=-180 must not
    be dropped by the prefilter when a region's interval ends at
    +180)."""
    import math

    eps = 1e-9
    terms = []
    for spec in regions:
        reg = _region(spec["kind"], spec["params"], spec.get("loop_offsets"))
        bound = reg.get_rect_bound()
        lat_lo = math.degrees(bound.lat.lo) - eps
        lat_hi = math.degrees(bound.lat.hi) + eps
        t = (F.col(lat_col) >= F.lit(lat_lo)) & (
            F.col(lat_col) <= F.lit(lat_hi)
        )
        if not bound.lng.is_full():
            lng_lo = math.degrees(bound.lng.lo) - eps
            lng_hi = math.degrees(bound.lng.hi) + eps
            # normalize -180 to +180 before comparing, matching the
            # refine kernel's atan2-based longitude (never returns -pi
            # for points remapped to +pi by the S1Interval convention)
            lon_n = F.when(
                F.col(lon_col) == F.lit(-180.0), F.lit(180.0)
            ).otherwise(F.col(lon_col))
            if bound.lng.is_inverted():
                t = t & (
                    (lon_n >= F.lit(lng_lo)) | (lon_n <= F.lit(lng_hi))
                )
            else:
                t = t & (lon_n >= F.lit(lng_lo)) & (lon_n <= F.lit(lng_hi))
        terms.append(t)
    out = terms[0]
    for t in terms[1:]:
        out = out | t
    return out


def _refine_udf(kernel_for: KernelFor):
    """The one exact refine of every covering join, as an Arrow UDF over
    (lat, lon, key, is_interior, *geometry) batches.  Interior-covering
    matches are containment-certain and pass through with zero kernel
    work (the filter/refine split); the other rows run one vectorized
    kernel call per key present in the batch.  ``kernel_for(key,
    geometry)`` gets the key's first row's ``geometry`` values;
    kernels are memoized per worker."""
    kernels: dict[int, Callable] = {}

    @F.pandas_udf(BooleanType())
    def refine(
        lat: pd.Series,
        lon: pd.Series,
        key: pd.Series,
        is_interior: pd.Series,
        *geometry: pd.Series,
    ) -> pd.Series:
        from ..s2core import geom

        n = len(lat)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return pd.Series(out)
        interior = is_interior.to_numpy(bool)
        out[interior] = True
        todo = ~interior
        if not np.any(todo):
            return pd.Series(out)
        keys = key.to_numpy(np.int64)
        pts = geom.latlng_to_xyz(
            np.radians(lat.to_numpy(np.float64)),
            np.radians(lon.to_numpy(np.float64)),
        )
        for k in np.unique(keys[todo]).tolist():
            mask = todo & (keys == k)
            if k not in kernels:
                i = int(np.argmax(mask))
                kernels[k] = kernel_for(k, [g.iloc[i] for g in geometry])
            out[mask] = kernels[k](pts[mask])
        return pd.Series(out)

    return refine


def _covering_join(
    docs: DataFrame,
    cov: DataFrame,
    levels: Sequence[int],
    key: str,
    kernel_for: KernelFor,
    lat_col: str,
    lon_col: str,
    leaf_col: str,
    geometry: tuple[str, ...] = (),
    broadcast: bool = True,
) -> DataFrame:
    """The covering join's skeleton: ``docs`` (carrying the leaf
    ``leaf_col``) x covering rows ``cov`` (``key``, ``cov_cell``,
    ``cov_level``, ``is_interior`` and any ``geometry`` columns the
    kernel needs), keeping the pairs :func:`_refine_udf` accepts.
    Returns ``docs`` columns + ``key``.  Every cell of ``cov`` must sit
    at one of ``levels``, and a key's cells must be disjoint: then a
    probe matches at most one covering row per key, so the join needs
    no dedup shuffle."""
    # Probe side: one prefix key per covering level (a plain long-array
    # explode; stays narrow, no shuffle).  A single equi-key suffices:
    # a cell id's lowest set bit encodes its level (S2CellId.php:
    # 211-243), so s2_parent(leaf, L') = cov_cell already implies
    # L' = cov_level — no second join key, no struct materialization
    # through the exploded rows.
    prefixes = F.array(*[s2_parent(F.col(leaf_col), lvl) for lvl in levels])
    probe = docs.withColumn("_prefix", F.explode(prefixes))
    build = cov.drop("cov_level")
    joined = probe.join(
        F.broadcast(build) if broadcast else build,
        F.col("_prefix") == F.col("cov_cell"),
        "inner",
    )
    # SINGLE pass: the refine kernel receives is_interior and passes
    # interior matches through untouched — avoids a union that would
    # re-execute the probe subtree twice.
    refine = _refine_udf(kernel_for)
    return joined.where(
        refine(
            F.col(lat_col),
            F.col(lon_col),
            F.col(key),
            F.col("is_interior"),
            *[F.col(c) for c in geometry],
        )
    ).select(*docs.columns, key)


def spatial_join(
    spark: SparkSession,
    docs: DataFrame,
    regions: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
    leaf_col: str = "cell_id",
    max_cells: int = 8,
    prefilter: bool = True,
) -> DataFrame:
    """docs x regions point-in-region join.

    Returns ``docs`` columns + ``region_id``.  ``docs`` must already
    carry the leaf ``cell_id`` (from ``functions.s2_cell_id``).
    """
    cov_rows = compute_coverings(regions, max_cells=max_cells)
    cov = spark.createDataFrame(cov_rows, COVERING_SCHEMA)
    if prefilter:
        docs = docs.where(bbox_prefilter_expr(regions, lat_col, lon_col))
    # Region objects are rebuilt from the closure's specs once per
    # worker (closure serialization); the closure refers to s2core
    # only, so Python workers never import the operators package.
    specs = {int(r["region_id"]): r for r in regions}

    def contains(region_id: int, _geometry: list):
        spec = specs[region_id]
        return region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        ).contains_points

    return _covering_join(
        docs, cov, sorted({lvl for _, _, lvl, _ in cov_rows}), "region_id",
        contains, lat_col, lon_col, leaf_col,
    )


# --- distributed region path (large region sets, SURVEY.md §3.2) ---------------
REGION_TABLE_SCHEMA = (
    "region_id long, kind string, params array<double>, "
    "loop_offsets array<int>"
)


def regions_to_df(spark: SparkSession, regions: list[dict]) -> DataFrame:
    rows = [
        (
            int(r["region_id"]),
            r["kind"],
            [float(x) for x in r["params"]],
            [int(x) for x in r["loop_offsets"]]
            if r.get("loop_offsets") is not None
            else None,
        )
        for r in regions
    ]
    return spark.createDataFrame(rows, REGION_TABLE_SCHEMA)


def build_covering_table_distributed(
    regions_df: DataFrame,
    max_cells: int = 8,
    min_level: int = JOIN_LEVEL_GRID[0],
    max_level: int = JOIN_LEVEL_GRID[-1],
    level_mod: int = 3,
) -> DataFrame:
    """Distributed twin of :func:`build_covering_table`: the coverer
    kernel runs INSIDE executors via mapInPandas over the region
    dimension table, so a region set of any size (the driver-side path
    assumes O(10^2..10^6) regions fit on the driver) covers in
    parallel.  Output schema matches COVERING_SCHEMA."""

    def gen(batches):
        for pdf in batches:
            rows = _covering_rows(
                (
                    (int(r.region_id),
                     _region(r.kind, r.params, r.loop_offsets))
                    for r in pdf.itertuples(index=False)
                ),
                max_cells, min_level, max_level, level_mod,
            )
            yield pd.DataFrame(rows, columns=COVERING_SCHEMA.fieldNames())

    return regions_df.mapInPandas(gen, COVERING_SCHEMA)


def spatial_join_region_table(
    spark: SparkSession,
    docs: DataFrame,
    regions_df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    leaf_col: str = "cell_id",
    max_cells: int = 8,
    broadcast_covering: bool = True,
) -> DataFrame:
    """Fully-distributed point-in-region join over a region DIMENSION
    TABLE (schema REGION_TABLE_SCHEMA): coverings computed in
    executors, candidate equi-join on banded prefixes, refine with
    per-row region geometry.  With ``broadcast_covering`` the covering
    and region tables are broadcast (the common case); otherwise both
    joins fall back to shuffle joins and the path scales to region
    sets far beyond driver memory."""
    # The region geometry rides on the covering rows (the refine reads
    # it per row), so the region table joins the small side, not the
    # candidate stream.
    cov = build_covering_table_distributed(regions_df, max_cells=max_cells)
    cov = cov.join(
        F.broadcast(regions_df) if broadcast_covering else regions_df,
        "region_id",
    )
    return _covering_join(
        docs, cov, JOIN_LEVEL_GRID, "region_id",
        lambda _rid, geometry: _region(*geometry).contains_points,
        lat_col, lon_col, leaf_col,
        geometry=("kind", "params", "loop_offsets"),
        broadcast=broadcast_covering,
    )
