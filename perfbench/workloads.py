"""Seeded inputs, independent oracles and per-pass output checks.

Nothing here imports Spark: the generators and checks are plain numpy,
so the benchmark's own tests run without a JVM.  Every generator takes
a ``numpy.random.Generator`` built from the run's ``--seed``; the
engine only ever sees the arrays these functions return.

Sizes are fixed here (and recorded in README.md) so that every run of a
workload does the same amount of work whatever the seed.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

from s2_geometry_library_php_spark.s2core import cellid as cid
from s2_geometry_library_php_spark.s2core import geom

# --- sizes ------------------------------------------------------------------
JOIN_DOCS = 200_000
KNN_DOCS = 100_000
KNN_PROBES = 100
KNN_K = 10
CORPUS_BASE_DOCS = 1_000
CORPUS_MAX_COPIES = 4
TILE_LEVEL = 8
ROLLUP_LEVELS = (6, 4, 2)

# Hotspot shape: 80% of docs in 5 tight clusters whose centres sit on
# the boundaries of these fixture regions (a tiny cap, a 500 km cap, a
# convex quad, a shell-with-hole polygon and a two-shell polygon), with
# zipf shares 1/1..1/5 in this order.  The regions and the places on
# their boundaries are fixed so that every seed stresses the same
# refine kernels; the seed shifts the centres a little and draws the
# points.
HOT_REGIONS = (1, 2, 7, 11, 12)
HOT_FRACTION = 0.8
HOT_SIGMA_DEG = 0.15


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream): the same seed always
    yields the same inputs, and adding a stream never shifts another."""
    return np.random.default_rng([int(seed), *stream])


# --- point generators ----------------------------------------------------------
def uniform_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) degrees, uniform on the sphere."""
    z = rng.uniform(-1.0, 1.0, n)
    lon = rng.uniform(-180.0, 180.0, n)
    return np.degrees(np.arcsin(z)), lon


def _destination(lat_deg, lon_deg, bearing, angle):
    """Point at great-circle ``angle`` (rad) from (lat, lon) along
    ``bearing`` (rad)."""
    lat1, lon1 = math.radians(lat_deg), math.radians(lon_deg)
    lat2 = math.asin(
        math.sin(lat1) * math.cos(angle)
        + math.cos(lat1) * math.sin(angle) * math.cos(bearing)
    )
    lon2 = lon1 + math.atan2(
        math.sin(bearing) * math.sin(angle) * math.cos(lat1),
        math.cos(angle) - math.sin(lat1) * math.sin(lat2),
    )
    return math.degrees(lat2), (math.degrees(lon2) + 540.0) % 360.0 - 180.0


def boundary_point(spec: dict, rng: np.random.Generator) -> tuple[float, float]:
    """A seeded point on (or, for loop edges, within metres of) the
    boundary of a cap / loop / polygon fixture region.  The place on the
    boundary is fixed per region (bearing 45 degrees on a cap, the
    middle of the first edge of a loop) up to a small seeded shift, so
    every seed puts the same kind of covering cells under the cluster."""
    p = spec["params"]
    if spec["kind"] == "cap":
        bearing = math.radians(45.0 + rng.uniform(-10.0, 10.0))
        return _destination(p[0], p[1], bearing, p[2])
    if spec["kind"] in ("loop", "polygon"):
        t = rng.uniform(0.4, 0.6)
        return p[0] + t * (p[2] - p[0]), p[1] + t * (p[3] - p[1])
    raise ValueError(f"no boundary sampler for region kind {spec['kind']!r}")


def hotspot_points(
    rng: np.random.Generator, n: int, regions: list[dict]
) -> tuple[np.ndarray, np.ndarray]:
    by_id = {int(r["region_id"]): r for r in regions}
    shares = 1.0 / np.arange(1, len(HOT_REGIONS) + 1)
    shares /= shares.sum()
    n_hot = int(n * HOT_FRACTION)
    sizes = np.floor(shares * n_hot).astype(int)
    sizes[0] += n_hot - sizes.sum()
    lats, lons = [], []
    for rid, size in zip(HOT_REGIONS, sizes):
        clat, clon = boundary_point(by_id[rid], rng)
        lat = clat + rng.normal(0.0, HOT_SIGMA_DEG, size)
        lon = clon + rng.normal(0.0, HOT_SIGMA_DEG, size) / max(
            math.cos(math.radians(clat)), 0.05
        )
        lats.append(np.clip(lat, -90.0, 90.0))
        lons.append((lon + 540.0) % 360.0 - 180.0)
    ulat, ulon = uniform_points(rng, n - n_hot)
    lat = np.concatenate([*lats, ulat])
    lon = np.concatenate([*lons, ulon])
    order = rng.permutation(n)  # spread the clusters over all partitions
    return lat[order], lon[order]


def join_inputs(workload: str, seed: int, regions: list[dict], n: int = JOIN_DOCS) -> dict:
    rng = rng_for(seed, 1)
    if workload == "join_tiles_uniform":
        lat, lon = uniform_points(rng, n)
    elif workload == "join_tiles_hotspot":
        lat, lon = hotspot_points(rng, n, regions)
    else:
        raise ValueError(workload)
    return {"doc_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}


def knn_corpus(seed: int, n: int = KNN_DOCS) -> dict:
    lat, lon = uniform_points(rng_for(seed, 2), n)
    return {"doc_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}


def knn_probes(seed: int, batch: int, n: int = KNN_PROBES) -> dict:
    lat, lon = uniform_points(rng_for(seed, 3, batch), n)
    return {"probe_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}


# --- corpus generator ----------------------------------------------------------
_SHARED_WORDS = (
    "data scan join tile cell query index batch stream value table spark "
    "region point shard merge sort hash filter group window vector token "
    "crawl page corpus cluster sample metric schema column partition"
).split()
_LANG_WORDS = {
    "en": "the and of to in is that with".split(),
    "de": "der die das und ist nicht mit ein".split(),
    "fr": "le la les et est que pour une".split(),
    "es": "el los las es que por para una".split(),
}
_LANGS = ("en", "en", "en", "de", "fr", "es")


def corpus_inputs(seed: int, n_base: int = CORPUS_BASE_DOCS) -> dict:
    """documents.parquet-shaped columns (doc_id, text, lang, source,
    n_chars).  Each base page gets 1..CORPUS_MAX_COPIES copies: exact
    re-crawls and one-word edits, so both the exact and the MinHash
    near-duplicate stages remove rows.  doc_ids are a seeded sample of
    a wider id range, which moves the geocoded coordinates with the
    seed (``sources.load_documents`` derives lat/lon from doc_id)."""
    rng = rng_for(seed, 4)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_base):
        lang = _LANGS[int(rng.integers(len(_LANGS)))]
        words = _SHARED_WORDS + _LANG_WORDS[lang]
        n_words = int(rng.integers(20, 60))
        toks = [words[j] for j in rng.integers(len(words), size=n_words)]
        copies = int(rng.integers(1, CORPUS_MAX_COPIES + 1))
        for c in range(copies):
            out = list(toks)
            if c > 0 and rng.random() < 0.5:
                out[int(rng.integers(n_words))] = words[int(rng.integers(len(words)))]
            texts.append(" ".join(out))
            langs.append(lang)
    n = len(texts)
    order = rng.permutation(n)
    doc_id = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
    text = [texts[j] for j in order]
    return {
        "doc_id": doc_id,
        "text": text,
        "lang": [langs[j] for j in order],
        "source": [f"src{int(d) % 7}" for d in doc_id],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def input_digest(columns: dict) -> str:
    """sha256 over every column's bytes, for the same-seed test and the
    run record."""
    h = hashlib.sha256()
    for name in sorted(columns):
        col = columns[name]
        h.update(name.encode())
        if isinstance(col, np.ndarray):
            h.update(col.tobytes())
        else:
            h.update("\x00".join(map(str, col)).encode())
    return h.hexdigest()


# --- join oracle (direct containment, no covering, no refine split) -----------
# The oracle shares no containment code with the engine: caps, rects and
# loops are tested here in plain numpy, so a bug in the engine's region
# kernels cannot hide in the expected output.  (The benchmark's tests
# check these kernels against the engine's s2core regions on seeded
# points.)  Only the leaf cell ids come from s2core.
def cap_contains(params, pts: np.ndarray) -> np.ndarray:
    """[axis_lat_deg, axis_lng_deg, angle_rad]: angle to the axis <= radius."""
    axis = unit_vectors(params[0], params[1])[0]
    return angle(pts, axis) <= params[2]


def rect_contains(params, lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    """[lat_lo, lat_hi, lng_lo, lng_hi] radians; lng_lo > lng_hi wraps
    across the antimeridian."""
    lat, lon = np.radians(lat_deg), np.radians(lon_deg)
    lo, hi, west, east = params
    in_lat = (lat >= lo) & (lat <= hi)
    if west <= east:
        return in_lat & (lon >= west) & (lon <= east)
    return in_lat & ((lon >= west) | (lon <= east))


def loop_contains(vertices_deg: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """Even-odd test in the gnomonic projection about the loop's
    vertex centroid, which maps geodesic edges to straight segments.
    Valid for loops inside a cap well under a hemisphere (all fixture
    loops); points on the far side of the tangent plane are outside."""
    v = unit_vectors(vertices_deg[:, 0], vertices_deg[:, 1])
    centre = v.sum(axis=0)
    centre /= np.linalg.norm(centre)
    if np.min(v @ centre) < math.cos(math.radians(80.0)):
        raise ValueError("loop too large for the gnomonic oracle")
    e1 = np.cross(centre, [0.0, 0.0, 1.0] if abs(centre[2]) < 0.9 else [1.0, 0.0, 0.0])
    e1 /= np.linalg.norm(e1)
    e2 = np.cross(centre, e1)

    def project(q):
        d = q @ centre
        return (q @ e1) / d, (q @ e2) / d

    near = pts @ centre > 0.1
    x, y = project(pts[near])
    vx, vy = project(v)
    inside = np.zeros(len(x), dtype=bool)
    for i in range(len(v)):
        x0, y0, x1, y1 = vx[i - 1], vy[i - 1], vx[i], vy[i]
        crosses = (y0 > y) != (y1 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (x < x_at)
    out = np.zeros(len(pts), dtype=bool)
    out[near] = inside
    return out


def region_contains(spec: dict, lat: np.ndarray, lon: np.ndarray, pts: np.ndarray) -> np.ndarray:
    kind, params = spec["kind"], spec["params"]
    if kind == "cap":
        return cap_contains(params, pts)
    if kind == "rect":
        return rect_contains(params, lat, lon)
    if kind in ("loop", "polygon"):
        v = np.asarray(params, dtype=np.float64).reshape(-1, 2)
        bounds = [*(spec.get("loop_offsets") or [0]), len(v)]
        inside = np.zeros(len(pts), dtype=bool)
        for a, b in zip(bounds[:-1], bounds[1:]):  # a polygon is the XOR of its loops
            inside ^= loop_contains(v[a:b], pts)
        return inside
    raise ValueError(f"no oracle for region kind {kind!r}")


def join_oracle(lat: np.ndarray, lon: np.ndarray, regions: list[dict]) -> dict:
    """Expected outputs of the join + tile pipeline: per-region matched
    docs, total join rows, matched docs, and per-level tile counts of
    the matched docs."""
    pts = unit_vectors(lat, lon)
    matched = np.zeros(len(lat), dtype=bool)
    per_region: dict[int, int] = {}
    for spec in regions:
        hit = region_contains(spec, lat, lon, pts)
        per_region[int(spec["region_id"])] = int(hit.sum())
        matched |= hit
    leaf = np.asarray(
        cid.cell_id_from_latlng_degrees(lat[matched], lon[matched]), dtype=np.uint64
    )
    return {
        "per_region": per_region,
        "join_rows": int(sum(per_region.values())),
        "matched_docs": int(matched.sum()),
        "tiles": tile_summary(leaf),
    }


def parent_ids(ids: np.ndarray, level: int) -> np.ndarray:
    lsb = np.uint64(1) << np.uint64(2 * (cid.MAX_LEVEL - level))
    return (ids & ~(lsb - np.uint64(1))) | lsb


def tile_summary(leaf_ids: np.ndarray) -> dict[int, tuple[int, int, int]]:
    """level -> (tiles, docs, checksum) where checksum = sum over tiles
    of signed_tile_id * doc_count (exact Python ints)."""
    out = {}
    for level in (TILE_LEVEL, *ROLLUP_LEVELS):
        tiles, counts = np.unique(parent_ids(leaf_ids, level), return_counts=True)
        signed = tiles.view(np.int64)
        checksum = sum(int(t) * int(c) for t, c in zip(signed, counts))
        out[level] = (int(len(tiles)), int(counts.sum()), checksum)
    return out


def check_join_pass(result: dict, oracle: dict) -> list[str]:
    """Problems with one pass's tile summary.  ``result`` maps level ->
    (tiles, docs, checksum) as read back from Spark."""
    problems = []
    for level, expected in oracle["tiles"].items():
        got = tuple(int(x) for x in result.get(level, (None, None, None)))
        if got != expected:
            problems.append(f"L{level} tiles/docs/checksum {got} != {expected}")
    for level, (_, docs, _) in result.items():
        if int(docs) != oracle["matched_docs"]:
            problems.append(
                f"L{level} tile counts sum to {docs}, "
                f"matched docs {oracle['matched_docs']}"
            )
    return problems


def check_region_counts(per_region: dict, oracle: dict) -> list[str]:
    got = {int(k): int(v) for k, v in per_region.items() if int(v)}
    want = {k: v for k, v in oracle["per_region"].items() if v}
    if got != want:
        return [f"per-region matches {got} != {want}"]
    return []


# --- kNN oracle ----------------------------------------------------------------
def unit_vectors(lat, lon):
    return np.atleast_2d(geom.latlng_to_xyz(np.radians(lat), np.radians(lon)))


def angle(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    """atan2(|p x q|, p.q) — the engine's stable great-circle angle."""
    return np.arctan2(np.linalg.norm(np.cross(p, q), axis=-1), np.sum(p * q, axis=-1))


def knn_oracle(docs_xyz: np.ndarray, probes: dict, k: int = KNN_K, slack: int = 16) -> list[np.ndarray]:
    """Brute force: the k smallest angles per probe, ascending.  The
    candidate set is the k + slack largest dot products (angle is
    monotone in the dot product), re-ranked by the exact angle."""
    pxyz = unit_vectors(probes["lat"], probes["lon"])
    out = []
    for i in range(0, len(pxyz), 25):
        block = pxyz[i : i + 25]
        dots = docs_xyz @ block.T
        top = np.argpartition(-dots, k + slack, axis=0)[: k + slack]
        for j in range(len(block)):
            cand = top[:, j]
            d = angle(docs_xyz[cand], block[j])
            out.append(np.sort(d)[:k])
    return out


def check_knn_batch(
    rows: list[tuple[int, int, float]],
    probes: dict,
    docs_xyz: np.ndarray,
    expected: list[np.ndarray],
    k: int = KNN_K,
    tol: float = 1e-12,
) -> list[str]:
    """``rows`` are (probe_id, doc_id, dist_rad).  Any doc at the k-th
    distance is accepted (ties), but each probe needs exactly k
    distinct docs whose true angles match the oracle's k smallest."""
    problems = []
    by_probe: dict[int, list[tuple[int, float]]] = {}
    for pid, did, dist in rows:
        by_probe.setdefault(int(pid), []).append((int(did), float(dist)))
    pxyz = unit_vectors(probes["lat"], probes["lon"])
    for pid in range(len(pxyz)):
        got = by_probe.get(pid, [])
        ids = np.array([d for d, _ in got], dtype=np.int64)
        if len(got) != k or len(set(ids.tolist())) != k:
            problems.append(f"probe {pid}: {len(got)} rows, {len(set(ids.tolist()))} distinct")
            continue
        if ids.min() < 0 or ids.max() >= len(docs_xyz):
            problems.append(f"probe {pid}: doc id out of range")
            continue
        true = np.sort(angle(docs_xyz[ids], pxyz[pid]))
        reported = np.sort(np.array([d for _, d in got]))
        if not (
            np.allclose(true, expected[pid], rtol=0, atol=tol)
            and np.allclose(reported, true, rtol=0, atol=tol)
        ):
            problems.append(f"probe {pid}: neighbours differ from brute force")
    extra = set(by_probe) - set(range(len(pxyz)))
    if extra:
        problems.append(f"unknown probe ids {sorted(extra)[:5]}")
    return problems


# --- corpus checks -------------------------------------------------------------
def survivor_digest(ids: np.ndarray) -> str:
    return hashlib.sha256(np.sort(np.asarray(ids, dtype=np.int64)).tobytes()).hexdigest()


def check_corpus_pass(ids: np.ndarray, inputs: dict, reference: str | None) -> list[str]:
    """Survivors are distinct input docs with pairwise distinct text,
    and the set is the same on every pass (``reference`` is the
    digest of the first pass of the run)."""
    problems = []
    ids = np.asarray(ids, dtype=np.int64)
    if len(ids) == 0:
        return ["no survivors"]
    if len(np.unique(ids)) != len(ids):
        problems.append("duplicate survivor ids")
    pos = np.searchsorted(inputs["doc_id"], ids)
    pos = np.clip(pos, 0, len(inputs["doc_id"]) - 1)
    if not np.array_equal(inputs["doc_id"][pos], ids):
        problems.append("survivor ids not in the input")
    else:
        texts = [inputs["text"][p] for p in pos]
        if len(set(texts)) != len(texts):
            problems.append("two survivors share a text fingerprint")
    if reference is not None and survivor_digest(ids) != reference:
        problems.append("survivor set differs from the first pass")
    return problems
