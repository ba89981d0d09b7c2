"""One benchmark run of one workload, in one process, on local[nproc].

Started by ``run.py`` with an isolated environment (fresh TMPDIR, Spark
local dirs, driver memory sized to the host).  Prints one result line,
prefixed ``PERFBENCH_RESULT``, that ``run.py`` turns into the final
report.

A run is: generate the seeded inputs and their oracle, then one cold
set-up (start Spark, load and cache the input, build the coverings, run
and check a warm-up pass), then a closed loop with one client, each
pass starting when the previous one finished, for ``--seconds``.  Every
pass is checked; a wrong pass counts as failed.  With ``--trace 1`` the
untraced loop gets half of the time, a traced loop the other half, and
the difference of the two pass medians is reported as the tracing
overhead.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import tracing as tr  # noqa: E402
import workloads as wl  # noqa: E402

STEADY_MIN_PASSES = 2


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _sum_metric(nodes, metric, pred):
    return sum(n.metrics.get(metric, 0.0) for n in nodes if pred(n))


def _python_udf_metrics(nodes, udf: str) -> dict:
    def pred(n):
        return n.name == "ArrowEvalPython" and f"{udf}(" in n.desc

    return {
        "rows": _sum_metric(nodes, "pythonNumRowsReceived", pred),
        "python_s": _sum_metric(nodes, "pythonTotalTime", pred),
        "init_s": _sum_metric(nodes, "pythonInitTime", pred),
        "bytes_sent": _sum_metric(nodes, "pythonDataSent", pred),
        "bytes_received": _sum_metric(nodes, "pythonDataReceived", pred),
    }


def _write_parquet(columns: dict, path: str) -> None:
    pq.write_table(pa.table(columns), path)


def _knn_batch(spark, tracer, probes: dict, docs):
    """One knn_join of a probe batch against ``docs`` (doc_id, lat, lon,
    cell_id) plus its collect, under the pass's job group + ``-knn`` so
    the traced run can count the kNN jobs on their own."""
    import pandas as pd

    from s2_geometry_library_php_spark.operators.knn import knn_join

    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(f"{group}-knn", f"{group}-knn")
    probes_df = spark.createDataFrame(pd.DataFrame(probes))
    with tracer.span("operators.knn_join"):
        res = knn_join(spark, probes_df, docs, wl.KNN_K).select("probe_id", "doc_id", "dist_rad")
    with tracer.span("collect_knn"):
        rows = res.collect()
    sc.setJobGroup(group, group)
    return res, [tuple(r) for r in rows]


def _knn_layer_metrics(spans, n_docs) -> dict:
    from s2_geometry_library_php_spark.operators.knn import auto_start_level

    return {
        "knn.call_s": spans.get("operators.knn_join", 0.0),
        "knn.collect_s": spans.get("collect_knn", 0.0),
        "knn.start_level": auto_start_level(n_docs, wl.KNN_K),
    }


class _Workload:
    """What the runner needs from a workload: ``items`` per pass,
    ``setup`` (load and cache the input), ``run_pass`` returning
    (DataFrame that ran, output), ``check`` (list of problems) and
    ``layer_metrics`` (from the walked plans of a traced pass)."""

    docs = None

    def executions(self, result, tracer):
        return [*tracer.captured, result._jdf.queryExecution()]

    def layer_probes(self, spark):
        return {}

    def release(self):
        if self.docs is not None:
            self.docs.unpersist()


class JoinWorkload(_Workload):
    """encode -> spatial_join -> per-doc region count -> tile_aggregate(L8)
    -> tile_rollup(L6, L4, L2), summarised as one row per pass."""

    def __init__(self, name, seed, workdir):
        from s2_geometry_library_php_spark.sources import region_fixtures

        self.regions = region_fixtures()
        self.inputs = wl.join_inputs(name, seed, self.regions)
        self.items = len(self.inputs["doc_id"])
        self.path = os.path.join(workdir, "docs.parquet")
        _write_parquet(self.inputs, self.path)
        self.oracle = wl.join_oracle(self.inputs["lat"], self.inputs["lon"], self.regions)

    def setup(self, spark, times):
        # The operators package re-exports the function under the module's
        # name, so fetch the module itself.  Its covering disk cache lives
        # under the run's own, fresh TMPDIR, so this build is always cold.
        sj = importlib.import_module("s2_geometry_library_php_spark.operators.spatial_join")
        t = time.perf_counter()
        self.docs = (
            spark.read.parquet(self.path)
            .repartition(2 * spark.sparkContext.defaultParallelism)
            .cache()
        )
        self.docs.count()
        times["sources.load_cache_s"] = time.perf_counter() - t
        t = time.perf_counter()
        # spatial_join's default max_cells, so every pass hits this entry
        sj.compute_coverings(self.regions, max_cells=8)
        times["s2core.covering_s"] = time.perf_counter() - t

    def run_pass(self, spark, tracer):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from s2_geometry_library_php_spark.functions import s2_cell_id
        from s2_geometry_library_php_spark.operators import (
            spatial_join,
            tile_aggregate,
            tile_rollup,
        )

        # Per-region match counts ride along as observed metrics of the
        # join output, so checking them costs no extra Spark action.
        self.observation = Observation("region_matches")
        with tracer.span("functions.s2_cell_id"):
            encoded = self.docs.withColumn("cell_id", s2_cell_id("lat", "lon"))
        with tracer.span("operators.spatial_join"):
            joined = spatial_join(
                spark, encoded.select("doc_id", "lat", "lon", "cell_id"), self.regions
            )
        joined = joined.observe(
            self.observation,
            *[
                F.sum((F.col("region_id") == rid).cast("long")).alias(str(rid))
                for rid in sorted(int(r["region_id"]) for r in self.regions)
            ],
        )
        with tracer.span("benchmark.per_doc"):
            per_doc = joined.groupBy("doc_id", "lat", "lon", "cell_id").agg(
                F.count(F.lit(1)).alias("n_regions")
            )
        with tracer.span("operators.tile_aggregate"):
            tiles = tile_aggregate(per_doc, wl.TILE_LEVEL)
        with tracer.span("operators.tile_rollup"):
            rolled = tile_rollup(tiles, wl.TILE_LEVEL, list(wl.ROLLUP_LEVELS))
        aggs = []
        for level in (wl.TILE_LEVEL, *wl.ROLLUP_LEVELS):
            at = F.col("level") == level
            weighted = F.col("tile_id").cast("decimal(20,0)") * F.col("doc_count")
            aggs += [
                F.sum(F.when(at, 1).otherwise(0)).alias(f"t{level}"),
                F.sum(F.when(at, F.col("doc_count")).otherwise(0)).alias(f"d{level}"),
                F.sum(F.when(at, weighted).otherwise(0)).alias(f"c{level}"),
            ]
        aggs.append(
            F.max(F.when(F.col("level") == wl.TILE_LEVEL, F.col("doc_count"))).alias("max8")
        )
        summary = rolled.agg(*aggs)
        with tracer.span("collect"):
            row = summary.collect()[0]
        return summary, row

    def check(self, row):
        got = {
            level: (row[f"t{level}"], row[f"d{level}"], row[f"c{level}"])
            for level in (wl.TILE_LEVEL, *wl.ROLLUP_LEVELS)
        }
        problems = wl.check_join_pass(got, self.oracle)
        # The observed metrics arrive when the query that computed the
        # join finishes; never block on a missing one (get() waits forever).
        if not self.observation._jo.future().isCompleted():
            return problems + ["per-region counts were not observed"]
        return problems + wl.check_region_counts(self.observation.get, self.oracle)

    def layer_metrics(self, nodes, row, spans):
        m = {}
        for k, v in _python_udf_metrics(nodes, "s2_cell_id").items():
            m[f"functions.s2_cell_id.{k}"] = v
        refine = _python_udf_metrics(nodes, "refine")
        candidates = _sum_metric(nodes, "numOutputRows", lambda n: n.name == "BroadcastHashJoin")
        matches = _sum_metric(
            nodes, "numOutputRows", lambda n: n.name == "Filter" and "pythonUDF" in n.desc
        )
        m.update(
            {
                "spatial_join.prefilter_rows_out": _sum_metric(
                    nodes,
                    "numOutputRows",
                    lambda n: n.name == "Filter" and "lat#" in n.desc and ">=" in n.desc,
                ),
                "spatial_join.probe_rows": _sum_metric(
                    nodes, "numOutputRows", lambda n: n.name == "Generate"
                ),
                "spatial_join.candidate_rows": candidates,
                "spatial_join.refine_rows_in": refine["rows"],
                "spatial_join.match_rows": matches,
                "spatial_join.useful_ratio": matches / candidates if candidates else 0.0,
                "spatial_join.refine.python_s": refine["python_s"],
                "spatial_join.refine.init_s": refine["init_s"],
                "spatial_join.build_s": spans.get("operators.spatial_join", 0.0),
                "spatial_join.broadcast_bytes": _sum_metric(
                    nodes, "dataSize", lambda n: n.name == "BroadcastExchange"
                ),
                "spatial_join.broadcast_build_s": sum(
                    _sum_metric(nodes, k, lambda n: n.name == "BroadcastExchange")
                    for k in ("collectTime", "buildTime")
                ),
            }
        )

        def tile_exchange(n):
            return n.name == "Exchange" and "_groupingexpression" in n.desc

        m["tiling.shuffle_bytes"] = _sum_metric(nodes, "shuffleBytesWritten", tile_exchange)
        m["tiling.shuffle_records"] = _sum_metric(nodes, "shuffleRecordsWritten", tile_exchange)
        m["tiling.shuffle_write_s"] = _sum_metric(nodes, "shuffleWriteTime", tile_exchange)
        m["tiling.agg_peak_mem_bytes"] = max(
            [
                n.metrics.get("peakMemory", 0.0)
                for n in nodes
                if n.name == "HashAggregate" and "_groupingexpression" in n.desc
            ]
            or [0.0]
        )
        mean = row[f"d{wl.TILE_LEVEL}"] / max(row[f"t{wl.TILE_LEVEL}"], 1)
        m["tiling.tile_max_over_mean"] = (row["max8"] or 0) / mean if mean else 0.0
        return m

    def layer_probes(self, spark):
        """Encode vs cached scan over this workload's docs, and the
        numpy encode kernel alone on one thread."""
        from pyspark.sql import functions as F

        from s2_geometry_library_php_spark.functions import s2_cell_id

        def timed(df):
            t = time.perf_counter()
            df.collect()
            return time.perf_counter() - t

        return {
            "sources.scan_s": timed(self.docs.agg(F.sum("lat"), F.sum("lon"))),
            "functions.encode_pass_s": timed(self.docs.agg(F.max(s2_cell_id("lat", "lon")))),
            "s2core.encode_rows_per_s": self.items / _kernel_seconds(self.inputs),
        }


def _kernel_seconds(inputs) -> float:
    from s2_geometry_library_php_spark.s2core import cellid as cid

    t = time.perf_counter()
    cid.cell_id_from_latlng_degrees(inputs["lat"], inputs["lon"])
    return time.perf_counter() - t


class KnnWorkload(_Workload):
    """Batches of KNN_PROBES seeded probes, k=KNN_K, against a cached,
    encoded corpus.  One pass = one knn_join + collect."""

    def __init__(self, name, seed, workdir):
        self.seed = seed
        self.inputs = wl.knn_corpus(seed)
        self.items = wl.KNN_PROBES
        self.path = os.path.join(workdir, "docs.parquet")
        _write_parquet(self.inputs, self.path)
        self.docs_xyz = wl.unit_vectors(self.inputs["lat"], self.inputs["lon"])
        self.batch = 0

    def setup(self, spark, times):
        from s2_geometry_library_php_spark.functions import s2_cell_id

        t = time.perf_counter()
        self.docs = (
            spark.read.parquet(self.path)
            .repartition(2 * spark.sparkContext.defaultParallelism)
            .withColumn("cell_id", s2_cell_id("lat", "lon"))
            .cache()
        )
        self.docs.count()
        times["sources.load_cache_s"] = time.perf_counter() - t

    def run_pass(self, spark, tracer):
        self.probes = wl.knn_probes(self.seed, self.batch)
        self.batch += 1
        return _knn_batch(spark, tracer, self.probes, self.docs)

    def check(self, rows):
        expected = wl.knn_oracle(self.docs_xyz, self.probes)
        return wl.check_knn_batch(rows, self.probes, self.docs_xyz, expected)

    def layer_metrics(self, nodes, rows, spans):
        m = {f"functions.s2_cell_id.{k}": v for k, v in _python_udf_metrics(nodes, "s2_cell_id").items()}
        m.update(_knn_layer_metrics(spans, len(self.inputs["doc_id"])))
        return m

    def layer_probes(self, spark):
        return {"s2core.encode_rows_per_s": len(self.inputs["lat"]) / _kernel_seconds(self.inputs)}


class CorpusWorkload(_Workload):
    """clean_corpus over seeded documents loaded through
    sources.load_documents, then a kNN batch against the cleaned corpus.
    One pass = clean_corpus, materialised once (localCheckpoint) and
    collected, + one knn_join of KNN_PROBES probes against the survivors
    + its collect."""

    def __init__(self, name, seed, workdir):
        self.seed = seed
        self.inputs = wl.corpus_inputs(seed)
        self.items = len(self.inputs["doc_id"])
        self.dir = workdir
        _write_parquet(self.inputs, os.path.join(workdir, "documents.parquet"))
        self.reference = None
        self.batch = 0

    def setup(self, spark, times):
        from s2_geometry_library_php_spark.sources import load_documents

        t = time.perf_counter()
        self.docs = (
            load_documents(spark, self.dir)
            .select("doc_id", "text", "lat", "lon")
            .repartition(2 * spark.sparkContext.defaultParallelism)
            .cache()
        )
        self.docs.count()
        times["sources.load_cache_s"] = time.perf_counter() - t

    def run_pass(self, spark, tracer):
        from s2_geometry_library_php_spark.functions import s2_cell_id
        from s2_geometry_library_php_spark.operators import clean_corpus

        with tracer.span("operators.clean_corpus"):
            cleaned = clean_corpus(spark, self.docs).select("doc_id", "lat", "lon")
        with tracer.span("collect"):
            survivors = cleaned.localCheckpoint()
            kept = survivors.toPandas()
        self.probes = wl.knn_probes(self.seed, self.batch)
        self.batch += 1
        docs = survivors.withColumn("cell_id", s2_cell_id("lat", "lon"))
        res, rows = _knn_batch(spark, tracer, self.probes, docs)
        return res, (kept, rows)

    def check(self, out):
        kept, rows = out
        ids = kept["doc_id"].to_numpy()
        problems = wl.check_corpus_pass(ids, self.inputs, self.reference)
        if self.reference is None and not problems:
            self.reference = wl.survivor_digest(ids)
        docs_xyz = wl.unit_vectors(kept["lat"].to_numpy(), kept["lon"].to_numpy())
        # check_knn_batch wants doc ids that index docs_xyz
        pos = {int(d): i for i, d in enumerate(ids)}
        rows = [(p, pos.get(int(d), -1), dist) for p, d, dist in rows]
        expected = wl.knn_oracle(docs_xyz, self.probes)
        return problems + wl.check_knn_batch(rows, self.probes, docs_xyz, expected)

    def layer_metrics(self, nodes, out, spans):
        kept, _ = out

        band_rows = losers = 0.0
        for j, n in enumerate(nodes):
            if "Join" in n.name and "band" in n.desc and "key" in n.desc:
                band_rows += n.metrics.get("numOutputRows", 0.0)
                # The optimiser folds the pairs' distinct into a distinct
                # over the losing doc ids: the topmost key-only aggregate
                # of the Project/HashAggregate chain above the band join
                # (the walk lists parents first).
                top = None
                for up in reversed(nodes[:j]):
                    if up.name not in ("Project", "HashAggregate"):
                        break
                    if up.name == "HashAggregate" and "functions=[]" in up.desc:
                        top = up
                losers += top.metrics.get("numOutputRows", 0.0) if top else 0.0
        m = {f"functions.s2_cell_id.{k}": v for k, v in _python_udf_metrics(nodes, "s2_cell_id").items()}
        m.update({
            "dedup.band_pair_rows": band_rows,
            "dedup.near_dup_losers": losers,
            "dedup.useful_ratio": losers / band_rows if band_rows else 0.0,
            "corpus.survivors": float(len(kept)),
            "corpus.shuffle_bytes": _sum_metric(
                nodes, "shuffleBytesWritten", lambda n: n.name == "Exchange"
            ),
            "corpus.python_s": _sum_metric(
                nodes, "pythonTotalTime", lambda n: "Python" in n.name
            ),
        })
        m.update(_knn_layer_metrics(spans, len(kept)))
        return m


KINDS = {
    "join_tiles_uniform": JoinWorkload,
    "join_tiles_hotspot": JoinWorkload,
    "knn_probe_batches": KnnWorkload,
    "corpus_clean_dedup": CorpusWorkload,
}


def _persisted_rdd_ids(spark) -> list[int]:
    """Ids of the persisted RDDs, after collecting garbage on both sides
    (the JVM frees an RDD only once no Python handle pins it)."""
    gc.collect()
    spark._jvm.System.gc()
    return [int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()]


def _rdd_id_mark(spark) -> int:
    """An id below that of every RDD created from now on (ids only grow)."""
    return spark.sparkContext._jsc.sc().newRddId()


class Runner:
    def __init__(self, args):
        self.args = args
        self.workload = KINDS[args.workload](args.workload, args.seed, args.workdir)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.steady_from = 0  # RDD id mark after the set-up
        self.last_pass_from = 0  # RDD id mark before the latest pass

    def checked_pass(self, tracer, group):
        """Run, time and check one pass; returns (seconds, result, output)
        or None when it raised or was wrong."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        self.attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span("pass"):
                result, out = self.workload.run_pass(self.spark, tracer)
            seconds = time.perf_counter() - t
            problems = self.workload.check(out)
        except Exception as e:  # a failed pass is counted, the run goes on
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
            return None
        return seconds, result, out

    def setup_once(self, tracer):
        """The cold set-up: load and cache the input, build the
        coverings, run and check the warm-up pass."""
        times = {}
        t = time.perf_counter()
        self.workload.setup(self.spark, times)
        warm = self.checked_pass(tracer, "warmup")
        times["setup_s"] = time.perf_counter() - t
        if warm is not None:
            times["warmup_pass_s"] = warm[0]
        return times

    def run(self):
        args = self.args
        quiet = tr.Tracer(False)
        t = time.perf_counter()
        from s2_geometry_library_php_spark.plans.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t

        setup = self.setup_once(quiet)
        setup["plans.get_spark_s"] = get_spark_s
        self.steady_from = _rdd_id_mark(self.spark)
        untraced_seconds = args.seconds / 2 if args.trace else args.seconds
        times, items = self.loop(quiet, untraced_seconds, "pass", STEADY_MIN_PASSES)
        out = {
            "end_to_end": {
                "items_per_s": items / sum(times) if times else 0.0,
                "pass_p50_s": _median(times),
                "setup_s": get_spark_s + setup["setup_s"],
            },
            "passes": len(times),
            "setup": setup,
            "pass_times": times,
        }
        if args.trace:
            out["layers"] = self.traced(args.seconds / 2, times, setup)
        self.check_rdds()
        self.workload.release()
        self.spark.stop()
        out.update(
            attempted=self.attempted,
            failed=self.failed,
            problems=self.problems[:10],
            items_per_pass=self.workload.items,
            input_digest=wl.input_digest(self.workload.inputs),
            survivor_digest=getattr(self.workload, "reference", None),
        )
        return out

    def loop(self, tracer, seconds, group_prefix, min_passes, on_pass=None):
        """Closed loop, one client: run checked passes back to back for
        ``seconds`` (at least ``min_passes``)."""
        times: list[float] = []
        items = 0
        start = time.perf_counter()
        i = 0
        while i < min_passes or time.perf_counter() - start < seconds:
            tracer.pass_id = i
            group = f"{group_prefix}-{i}"
            self.last_pass_from = _rdd_id_mark(self.spark)
            done = self.checked_pass(tracer, group)
            if done is not None:
                times.append(done[0])
                items += self.workload.items
                if on_pass is not None:
                    on_pass(group, *done)
            done = None
            tracer.captured.clear()  # the walked plans reference this pass's RDDs
            _persisted_rdd_ids(self.spark)  # every pass starts from collected garbage
            i += 1
        return times, items

    def check_rdds(self, timeout_s=10.0):
        """Leak check, once per run: no RDD that a steady pass before the
        latest one persisted may stay persisted.  Spark's ContextCleaner
        frees a pass's checkpoints asynchronously, at times seconds late,
        so poll for up to ``timeout_s``.  What the set-up and the warm-up
        pass persist once (cached inputs, an operator's reused cache) is
        allowed; an operator that leaks even one RDD per call is caught
        by the first steady pass's."""
        self.attempted += 1
        deadline = time.perf_counter() + timeout_s
        while True:
            stale = [
                i
                for i in _persisted_rdd_ids(self.spark)
                if self.steady_from < i < self.last_pass_from
            ]
            if not stale or time.perf_counter() > deadline:
                break
            time.sleep(0.1)
        if stale:
            self.failed += 1
            self.problems.append(
                f"{len(stale)} RDDs persisted by earlier passes still persisted "
                f"{timeout_s:.0f}s after the run (ids {sorted(stale)[:5]})"
            )

    def traced(self, seconds, untraced_times, setup):
        tracer = tr.Tracer(True)
        tracer.install()
        per_pass: list[dict] = []
        sc = self.spark.sparkContext

        def on_pass(group, seconds_, result, out):
            jobs, stages, tasks = tr.job_counts(sc, group, f"{group}-knn")
            pass_idx = next(
                j for j in range(len(tracer.spans) - 1, -1, -1) if tracer.spans[j].name == "pass"
            )
            child = {
                s.name: s.end - s.start for s in tracer.children_of(pass_idx)
            }
            covered = sum(child.values())
            nodes = tr.walk_executions(self.workload.executions(result, tracer))
            m = self.workload.layer_metrics(nodes, out, child)
            m.update(
                {
                    "driver.jobs_per_pass": jobs,
                    "driver.stages_per_pass": stages,
                    "driver.tasks_per_pass": tasks,
                    "trace.span_coverage": covered / seconds_ if seconds_ else 0.0,
                }
            )
            if "knn.call_s" in m:
                m["knn.spark_jobs"] = tr.job_counts(sc, f"{group}-knn")[0]
            per_pass.append(m)

        try:
            traced_times, _ = self.loop(tracer, seconds, "traced", 2, on_pass)
        finally:
            tracer.uninstall()
        layers = {k: _median([p[k] for p in per_pass]) for k in (per_pass[0] if per_pass else {})}
        layers.update(self.workload.layer_probes(self.spark))
        layers.update(
            {
                "plans.get_spark_s": setup["plans.get_spark_s"],
                "sources.load_cache_s": setup["sources.load_cache_s"],
                "s2core.covering_s": setup.get("s2core.covering_s", 0.0),
                "trace.overhead_s": _median(traced_times) - _median(untraced_times),
                "pass_p90_s": _p90(untraced_times),
                "failed_frac": self.failed / max(self.attempted, 1),
            }
        )
        if self.args.span_file:
            tracer.write(
                self.args.span_file,
                {"workload": self.args.workload, "seed": self.args.seed},
            )
        return layers


def _p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(KINDS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--workdir", required=True)
    p.add_argument("--span-file", default=None)
    args = p.parse_args(argv)
    result = Runner(args).run()
    print("PERFBENCH_RESULT " + json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
