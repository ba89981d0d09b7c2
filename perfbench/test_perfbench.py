"""Tests of the benchmark's own code (no JVM needed).

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run  # noqa: E402
import worker  # noqa: E402
import workloads as wl  # noqa: E402
from s2_geometry_library_php_spark.sources import region_fixtures  # noqa: E402


def _generators(seed):
    regions = region_fixtures()
    return {
        "join_tiles_uniform": wl.join_inputs("join_tiles_uniform", seed, regions, n=5_000),
        "join_tiles_hotspot": wl.join_inputs("join_tiles_hotspot", seed, regions, n=5_000),
        "knn_corpus": wl.knn_corpus(seed, n=5_000),
        "knn_probes": wl.knn_probes(seed, batch=3),
        "corpus": wl.corpus_inputs(seed, n_base=50),
    }


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = _generators(7), _generators(7), _generators(8)
    for name in a:
        assert wl.input_digest(a[name]) == wl.input_digest(b[name]), name
        assert wl.input_digest(a[name]) != wl.input_digest(c[name]), name


def test_hotspot_is_clustered_on_region_boundaries():
    regions = region_fixtures()
    n = 20_000
    docs = wl.join_inputs("join_tiles_hotspot", 3, regions, n=n)
    oracle = wl.join_oracle(docs["lat"], docs["lon"], regions)
    shares = 1.0 / np.arange(1, len(wl.HOT_REGIONS) + 1)
    cluster = shares / shares.sum() * n * wl.HOT_FRACTION
    # a cluster centred on a boundary puts a good part of itself inside
    for rid, size in zip(wl.HOT_REGIONS, cluster):
        assert oracle["per_region"][rid] > 0.1 * size, rid
    uniform = wl.join_oracle(*wl.uniform_points(wl.rng_for(3, 1), n), regions)
    assert oracle["matched_docs"] > 1.2 * uniform["matched_docs"]


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert set(run.WORKLOADS) == set(worker.KINDS)

    result = {
        "end_to_end": {"items_per_s": 1.5, "pass_p50_s": 2.0, "setup_s": 3.0},
        "peak_rss_mb": 100.0,
        "layers": {"knn.call_s": 0.5},
        "failed": 0,
        "attempted": 4,
        "passes": 3,
        "problems": [],
        "items_per_pass": 10,
        "input_digest": "x",
        "survivor_digest": None,
        "pass_times": [2.0],
        "setup": {},
        "wall_s": 1.0,
        "span_file": None,
    }
    host = {"cores": 4, "ram_gb": 8.0}
    for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        out = run.report("knn_probe_batches", 1, result, trace, host)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert set(out["metrics"]) == {m["name"] for m in names}
        for m in names:
            assert out["metrics"][m["name"]]["unit"] == m["unit"]


@pytest.fixture(scope="module")
def join_case():
    regions = region_fixtures()
    docs = wl.join_inputs("join_tiles_hotspot", 5, regions, n=4_000)
    return regions, wl.join_oracle(docs["lat"], docs["lon"], regions)


@pytest.fixture(scope="module")
def knn_case():
    docs = wl.knn_corpus(5, n=3_000)
    probes = wl.knn_probes(5, batch=0, n=8)
    docs_xyz = wl.unit_vectors(docs["lat"], docs["lon"])
    expected = wl.knn_oracle(docs_xyz, probes)
    pxyz = wl.unit_vectors(probes["lat"], probes["lon"])
    rows = []
    for pid in range(len(pxyz)):
        d = wl.angle(docs_xyz, pxyz[pid])
        for did in np.argsort(d, kind="stable")[: wl.KNN_K]:
            rows.append((pid, int(did), float(d[did])))
    return docs_xyz, probes, expected, rows


class _Pass:
    """Stands in for a workload: returns canned output, checks it with
    the real check."""

    def __init__(self, outputs, check):
        self.outputs, self.check, self.items = list(outputs), check, 1

    def run_pass(self, spark, tracer):
        return None, self.outputs.pop(0)


def _failed_frac(outputs, check):
    runner = worker.Runner.__new__(worker.Runner)
    runner.attempted = runner.failed = 0
    runner.problems = []
    runner.spark = SimpleNamespace(sparkContext=SimpleNamespace(setJobGroup=lambda *a: None))
    runner.workload = _Pass(outputs, check)
    quiet = worker.tr.Tracer(False)
    for i in range(len(outputs)):
        runner.checked_pass(quiet, f"t{i}")
    return runner.failed / runner.attempted


def test_join_checks_pass_exact_output_and_fail_a_wrong_row(join_case):
    regions, oracle = join_case
    right = dict(oracle["tiles"])
    assert wl.check_join_pass(right, oracle) == []
    assert wl.check_region_counts(dict(oracle["per_region"]), oracle) == []

    tiles, docs, checksum = right[wl.TILE_LEVEL]
    wrong = {**right, wl.TILE_LEVEL: (tiles, docs + 1, checksum + 12345)}
    assert wl.check_join_pass(wrong, oracle)
    moved = dict(oracle["per_region"])
    moved[3] += 1
    assert wl.check_region_counts(moved, oracle)

    def check(result):
        return wl.check_join_pass(result, oracle)

    assert _failed_frac([right, right], check) == 0
    assert _failed_frac([right, wrong], check) == 0.5


def test_knn_checks_accept_brute_force_and_fail_a_wrong_neighbour(knn_case):
    docs_xyz, probes, expected, rows = knn_case
    assert wl.check_knn_batch(rows, probes, docs_xyz, expected) == []

    far = int(np.argmin(docs_xyz @ wl.unit_vectors(probes["lat"][:1], probes["lon"][:1])[0]))
    wrong = list(rows)
    pid, _, _ = wrong[3]
    wrong[3] = (pid, far, float(wl.angle(docs_xyz[far], wl.unit_vectors(probes["lat"], probes["lon"])[pid])))
    assert wl.check_knn_batch(wrong, probes, docs_xyz, expected)
    assert wl.check_knn_batch(rows[1:], probes, docs_xyz, expected)

    def check(out):
        return wl.check_knn_batch(out, probes, docs_xyz, expected)

    assert _failed_frac([rows, wrong], check) == 0.5


def test_corpus_check_flags_shared_text_and_unstable_survivors():
    inputs = wl.corpus_inputs(2, n_base=40)
    texts = {}
    for doc_id, text in zip(inputs["doc_id"], inputs["text"]):
        texts.setdefault(text, int(doc_id))
    ids = np.array(sorted(texts.values()))
    assert wl.check_corpus_pass(ids, inputs, None) == []
    ref = wl.survivor_digest(ids)
    assert wl.check_corpus_pass(ids, inputs, ref) == []
    assert wl.check_corpus_pass(ids[1:], inputs, ref)
    dup = [int(d) for d, t in zip(inputs["doc_id"], inputs["text"]) if texts[t] != int(d)]
    if dup:
        assert wl.check_corpus_pass(np.sort(np.append(ids, dup[0])), inputs, None)


def test_tile_summary_matches_a_python_parent_loop():
    rng = wl.rng_for(1, 9)
    lat, lon = wl.uniform_points(rng, 500)
    from s2_geometry_library_php_spark.s2core import cellid as cid

    leaf = np.asarray(cid.cell_id_from_latlng_degrees(lat, lon), dtype=np.uint64)
    summary = wl.tile_summary(leaf)
    for level, (tiles, docs, checksum) in summary.items():
        lsb = 1 << (2 * (30 - level))
        counts = {}
        for x in leaf.tolist():
            p = (x & ~(lsb - 1) & (2**64 - 1)) | lsb
            p = p - 2**64 if p >= 2**63 else p
            counts[p] = counts.get(p, 0) + 1
        assert (tiles, docs) == (len(counts), 500)
        assert checksum == sum(t * c for t, c in counts.items())


class _FakeRdds:
    """Persisted RDDs of a fake JVM.  The set-up caches the input, the
    warm-up pass also caches one table for good, and every pass pins
    ``transient`` RDDs that the cleaner frees only after ``lag`` garbage
    collections, plus ``leak`` RDDs that it never frees."""

    def __init__(self, transient, lag, leak):
        self.transient, self.lag, self.leak = transient, lag, leak
        self.next_id = 0
        self.persisted: dict[int, int | None] = {}  # id -> collections left
        self.persist(None)  # the cached input
        self.passes = 0

    def persist(self, lag):
        self.persisted[self.next_id] = lag
        self.next_id += 1

    def run_pass(self):
        if self.passes == 0:
            self.persist(None)  # a one-off cache, reused by later passes
        self.passes += 1
        for _ in range(self.transient):
            self.persist(self.lag)
        for _ in range(self.leak):
            self.persist(None)

    def newRddId(self):
        self.next_id += 1
        return self.next_id - 1

    def gc(self):
        self.persisted = {
            i: (None if left is None else left - 1)
            for i, left in self.persisted.items()
            if left is None or left > 1
        }

    def keySet(self):
        return SimpleNamespace(toArray=lambda: list(self.persisted))


def _leak_runner(rdds):
    class _Pinning(_Pass):
        def run_pass(self, spark, tracer):
            rdds.run_pass()
            return None, None

    runner = worker.Runner.__new__(worker.Runner)
    runner.attempted = runner.failed = 0
    runner.problems = []
    runner.workload = _Pinning([], lambda out: [])
    runner.spark = SimpleNamespace(
        sparkContext=SimpleNamespace(
            setJobGroup=lambda *a: None,
            _jsc=SimpleNamespace(getPersistentRDDs=lambda: rdds, sc=lambda: rdds),
        ),
        _jvm=SimpleNamespace(System=SimpleNamespace(gc=rdds.gc)),
    )
    return runner


@pytest.mark.parametrize("transient", [1, 5])
@pytest.mark.parametrize("steady_passes", [2, 6])
@pytest.mark.parametrize("leak, failed", [(0, 0), (1, 1)])
def test_growing_persistent_rdds_fail_the_run(transient, steady_passes, leak, failed, monkeypatch):
    """The leak check sees one leaked RDD per pass however many RDDs a
    pass pins for a while; transient RDDs that the cleaner frees late,
    and what the set-up and warm-up persist once, never fail the run."""
    clock = [0.0]  # the cleaner's lag is counted in collections, not seconds
    monkeypatch.setattr(
        worker,
        "time",
        SimpleNamespace(perf_counter=lambda: clock[0], sleep=lambda s: clock.__setitem__(0, clock[0] + s)),
    )
    monkeypatch.setattr(worker.gc, "collect", lambda: 0)
    rdds = _FakeRdds(transient, lag=4, leak=leak)
    runner = _leak_runner(rdds)
    quiet = worker.tr.Tracer(False)
    runner.checked_pass(quiet, "warmup")
    runner.steady_from = worker._rdd_id_mark(runner.spark)
    runner.loop(quiet, 0.0, "t", min_passes=steady_passes)
    runner.check_rdds(timeout_s=10.0)
    assert runner.failed == failed, runner.problems


@pytest.mark.parametrize("workload", ["join_tiles_hotspot", "join_tiles_uniform"])
def test_oracle_containment_agrees_with_the_engine_region_kernels(workload):
    from s2_geometry_library_php_spark.s2core.region import region_from_params

    regions = region_fixtures()
    docs = wl.join_inputs(workload, 11, regions, n=3_000)
    pts = wl.unit_vectors(docs["lat"], docs["lon"])
    for spec in regions:
        engine = region_from_params(spec["kind"], spec["params"], spec.get("loop_offsets"))
        ours = wl.region_contains(spec, docs["lat"], docs["lon"], pts)
        np.testing.assert_array_equal(ours, engine.contains_points(pts), err_msg=str(spec["region_id"]))


def test_corpus_pass_check_covers_survivors_and_their_knn_batch():
    import pandas as pd

    from s2_geometry_library_php_spark.sources.documents import geocode_numpy

    inputs = wl.corpus_inputs(3, n_base=60)
    first = {}
    for doc_id, text in zip(inputs["doc_id"], inputs["text"]):
        first.setdefault(text, int(doc_id))
    ids = np.array(sorted(first.values()))
    lat, lon = geocode_numpy(ids)
    kept = pd.DataFrame({"doc_id": ids, "lat": lat, "lon": lon})
    work = worker.CorpusWorkload.__new__(worker.CorpusWorkload)
    work.inputs, work.reference = inputs, None
    work.probes = wl.knn_probes(3, batch=0, n=6)
    docs_xyz = wl.unit_vectors(lat, lon)
    pxyz = wl.unit_vectors(work.probes["lat"], work.probes["lon"])
    rows = []
    for pid in range(len(pxyz)):
        d = wl.angle(docs_xyz, pxyz[pid])
        rows += [(pid, int(ids[i]), float(d[i])) for i in np.argsort(d)[: wl.KNN_K]]
    assert work.check((kept, rows)) == []
    assert work.reference == wl.survivor_digest(ids)

    far = int(ids[np.argmin(docs_xyz @ pxyz[0])])
    wrong = [(0, far, rows[0][2])] + rows[1:]
    assert work.check((kept, wrong))
    assert work.check((kept.iloc[1:], rows))  # a lost survivor changes the set
