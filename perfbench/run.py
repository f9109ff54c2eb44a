"""Cache-honest, layer-split benchmark of the catalog queries.

    python3 perfbench/run.py --workload study_etl --seed 1 --seconds 18 --trace 0

Run from the repository root. One process runs one workload as a closed
loop with a single client: the workload's queries run one after another
in one SparkSession on local[nproc]. Each run

1. starts the session, generates the workload's inputs from --seed and
   runs the workload's untimed warm-up passes, the first of which also
   builds the build-once indexes; all of this is `setup_s`;
2. times whole passes over the query list, at most about --seconds
   worth and at least one;
3. checks one measured pass's outputs (the last; with --trace 1 the
   traced one) against the catalog's DuckDB oracles on the same inputs
   (untimed), and records a host calibration probe;
4. prints detail lines, then one JSON result line.

With --trace 0 the result holds the end-to-end metrics. With --trace 1
the Spark UI and REST API are on and one traced pass runs between two
untraced ones; its spans (run > pass > query > construct/plan/execute)
and per-layer metrics are reported, the overhead is the traced pass
minus the mean of the untraced two, and the spans are written to
`.perfbench_out/` at the end of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import gen
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

STUDY_ETL = [
    "flagship_earliest_event", "tpch_q3_shaped", "a1_groupby_summarise",
    "w2_sort_slice_topn", "w3_last_per_group", "j1_left_join_two_keys",
    "j3_spine_study", "e2_sessionize_gap30m", "x6_asof_join",
    "c8_decision_column", "x3_rollup_hierarchy",
]
LLM_CURATION = [
    "t9_bpe_pack_sequences", "x19_targeted_pipeline", "d11_semantic_dedup",
    "m1_multimodal_features", "d15_dedup_against_index",
]

#: queries, whether caches are cleared before each query, input size
#: (base scale factor, documents, vectors, replication factor), untimed
#: warm-up passes and the nominal pass time on a 4-core host. The
#: reference queries keep getting faster over their first passes in a
#: session (after one warm-up pass the next ran 10-40% slower than the
#: ones after it), so `study_etl` warms up twice. The pass count is fixed by
#: --seconds over that nominal time, not by the clock, so every run of a
#: workload reports the same statistic over the same number of samples.
#: Set-up (session, first Spark jobs, warm-up) costs ~30 s a run on its
#: own, so the lists are a subset of the catalog rows of each family and the
#: inputs are small: one run stays under about a minute on 4 cores.
WORKLOADS = {
    "study_etl": dict(queries=STUDY_ETL, cold=False, sf=0.0025, docs=250,
                      vecs=250, factor=2, warmup_passes=2,
                      nominal_pass_s=6.0),
    "llm_curation": dict(queries=LLM_CURATION, cold=True, sf=0.0005,
                         docs=100, vecs=100, factor=2, warmup_passes=1,
                         nominal_pass_s=12.0),
}
DRIVER_MEMORY = "1g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _hygiene(work: str, trace: bool) -> dict[str, str]:
    """Environment for the session and its Python workers, and the Spark
    conf that keeps every file the run writes inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on the next gettempdir()
    # workers started outside the repository root must find the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # local[nproc] already runs one task per core: no nested BLAS pools
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed heap keeps peak RSS from following G1's resizing; no
        # perf-data file, which the JVM would write under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
    }


def _clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


class Bench:
    def __init__(self, args, work: str, conf: dict[str, str]) -> None:
        from configurable_etl_python_repo_spark.catalog import ORACLES, QUERIES

        self.args = args
        self.conf = conf
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.tmp = os.environ["TMPDIR"]
        self.queries = QUERIES
        self.oracles = ORACLES
        self.cores = _cores()
        self.failed = 0
        self.attempted = 0
        self.tracer = None
        self.status = None

    # -- one query invocation ------------------------------------------------
    def _invoke(self, q: str, traced: bool) -> tuple[float, object, dict]:
        """construct -> (plan) -> execute via the noop sink. Returns the
        timed wall seconds, the DataFrame and, when traced, the layer
        record."""
        spark, sc = self.spark, self.spark.sparkContext
        rec: dict = {}
        if not traced:
            t0 = time.perf_counter()
            df = self.queries[q](spark, self.in_dir)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, df, rec
        tr = self.tracer
        before = {g: self.status.job_ids(f"{g}:{q}")
                  for g in ("construct", "execute")}
        store_before = layers.store_snapshot(self.tmp)
        qspan = tr.start("query", query=q)
        sc.setJobGroup(f"construct:{q}", f"perfbench construct {q}")
        s = tr.start("construct", query=q)
        df = self.queries[q](spark, self.in_dir)
        rec["construct_s"] = tr.end(s)
        sc.setJobGroup(f"plan:{q}", f"perfbench plan {q}")
        s = tr.start("plan", query=q)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        rec["plan_s"] = tr.end(s)
        sc.setJobGroup(f"execute:{q}", f"perfbench execute {q}")
        s = tr.start("execute", query=q)
        df.write.format("noop").mode("overwrite").save()
        rec["execute_s"] = tr.end(s)
        _clear_job_group(sc)
        wall = tr.end(qspan)
        # layer metrics are read between queries, outside the timed spans
        rec.update(layers.catalyst_phases(qe))
        rec.update(layers.plan_counts(plan))
        for g in ("construct", "execute"):
            jobs = self.status.job_ids(f"{g}:{q}") - before[g]
            rec[f"{g}.jobs"] = float(len(jobs))
            rec.update(self.status.stage_metrics(
                jobs, "exec" if g == "execute" else g))
        rec["exec.core_busy"] = rec["exec.task_s"] / (
            rec["execute_s"] * self.cores)
        rec.update(self.status.cache())
        rec.update(layers.store_metrics(self.tmp, store_before))
        return wall, df, rec

    # -- one pass ------------------------------------------------------------
    def _pass(self, traced: bool = False, verify: bool = False) -> dict:
        """One pass over the query list. Cache clearing (cold workloads),
        output collection for verification and layer-metric reads are
        excluded from the pass time."""
        from configurable_etl_python_repo_spark.llm.dedup import clear_shingle_cache

        span = self.tracer.start("pass", traced=traced) if traced else None
        t0 = time.perf_counter()
        excluded = 0.0
        out = {"query_s": {}, "records": {}, "outputs": {}, "errors": {}}
        for q in self.wl["queries"]:
            if self.wl["cold"]:
                t = time.perf_counter()
                clear_shingle_cache()
                self.spark.catalog.clearCache()
                excluded += time.perf_counter() - t
            t = time.perf_counter()
            depth = self.tracer.depth() if traced else 0
            try:
                wall, df, rec = self._invoke(q, traced)
            except Exception as e:  # a failed query is counted, not fatal
                if traced:
                    _clear_job_group(self.spark.sparkContext)
                    self.tracer.unwind(depth, error=type(e).__name__)
                out["errors"][q] = f"{type(e).__name__}: {str(e)[:300]}"
                continue
            out["query_s"][q] = wall
            excluded += (time.perf_counter() - t) - wall
            out["records"][q] = rec
            if verify:
                t = time.perf_counter()
                try:
                    out["outputs"][q] = df.toPandas()
                except Exception as e:
                    out["errors"][q] = f"collect: {type(e).__name__}: {e}"[:300]
                excluded += time.perf_counter() - t
        out["pass_s"] = time.perf_counter() - t0 - excluded
        if span is not None:
            self.tracer.end(span, pass_s=out["pass_s"])
        return out

    # -- correctness ---------------------------------------------------------
    def _verify(self, outputs: dict) -> dict[str, str]:
        """Compare collected outputs with the DuckDB oracles on the same
        inputs; returns {query: problem} for every mismatch."""
        import duckdb

        from scripts.check_oracle import compare

        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.in_dir}/{t}.parquet')")
            bad = {}
            for q, got in outputs.items():
                if q not in self.oracles:
                    bad[q] = "no oracle"
                    continue
                want = con.execute(self.oracles[q]).fetchdf()
                problems = compare(q, got, want)
                if problems:
                    bad[q] = "; ".join(problems)[:300]
            return bad
        finally:
            con.close()

    def _calibrate(self) -> float:
        """bench.py's host probe: one range -> shuffle -> agg job, min of
        three after a warm-up. Recorded beside the metrics, not one."""
        from pyspark.sql import functions as F

        def one() -> float:
            t0 = time.perf_counter()
            (self.spark.range(0, 10_000_000)
                .withColumn("k", F.col("id") % 97)
                .groupBy("k").count()
                .write.format("noop").mode("overwrite").save())
            return time.perf_counter() - t0
        one()
        return min(one() for _ in range(3))

    # -- the run -------------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        from configurable_etl_python_repo_spark import get_spark

        args, wl = self.args, self.wl
        self.t_start = time.perf_counter()
        trace = bool(args.trace)
        if trace:
            self.tracer = layers.Tracer()
            run_span = self.tracer.start("run", workload=args.workload,
                                         seed=args.seed)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.conf)
        session_s = time.perf_counter() - t0
        if trace:
            self.status = layers.StatusApi(self.spark)

        self.in_dir = os.path.join(self.work, "inputs")
        os.makedirs(self.in_dir)
        t = time.perf_counter()
        sizes = gen.generate(self.spark, self.in_dir, args.seed, wl["sf"],
                             wl["docs"], wl["vecs"], wl["factor"])
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = [self._pass() for _ in range(wl["warmup_passes"])]
        warmup_s = time.perf_counter() - t
        setup_s = session_s + gen_s + warmup_s
        input_bytes = sum(v["bytes"] for v in sizes.values())

        if trace:
            # untraced passes on both sides, so JIT warming that is still
            # going on does not land in the overhead figure
            passes = [self._pass(), self._pass(traced=True, verify=True),
                      self._pass()]
            checked = passes[1]
        else:
            n = max(1, int(args.seconds // wl["nominal_pass_s"]))
            passes = [self._pass(verify=(i == n - 1)) for i in range(n)]
            checked = passes[-1]
        bad = self._verify(checked["outputs"])
        calib_s = self._calibrate()

        errors = {q: e for p in [*warm, *passes] for q, e in p["errors"].items()}
        samples = [s for p in passes for s in p["query_s"].values()]
        self.attempted = len(wl["queries"]) * len(passes)
        self.failed = (sum(len(p["errors"]) for p in passes)
                       + len([q for q in bad if q not in checked["errors"]]))
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        peak_rss_mb = layers.vm_hwm_mb(jvm_pid) + layers.vm_hwm_mb("self")
        tail_s, tail_pct = layers.tail(samples) if samples else (0.0, 0.0)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "run_wall_s": time.perf_counter() - self.t_start,
            "cores": self.cores, "session_s": session_s, "gen_s": gen_s,
            "warmup_s": warmup_s, "warmup_query_s": warm[0]["query_s"],
            "warmup_pass_s": [p["pass_s"] for p in warm],
            "passes": len(passes),
            "pass_s": [p["pass_s"] for p in passes],
            "pass_query_s": [p["query_s"] for p in passes],
            "query_samples": len(samples), "query_s.tail_percentile": tail_pct,
            "calib_s": calib_s, "inputs": sizes, "input_bytes": input_bytes,
            "failed_ops": self.failed / max(self.attempted, 1),
            "errors": errors, "mismatches": bad,
            "query_s.median": {
                q: statistics.median([p["query_s"][q] for p in passes
                                      if q in p["query_s"]])
                for q in wl["queries"]
                if any(q in p["query_s"] for p in passes)},
        }
        if not trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(p["pass_s"] for p in passes), "s"),
                "query_s.p50": (statistics.median(samples) if samples else 0.0, "s"),
                "query_s.tail": (tail_s, "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
        else:
            metrics = self._layer_metrics(passes, input_bytes, calib_s)
            self.tracer.end(run_span)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir,
                                f"trace-{args.workload}-seed{args.seed}.json")
            self.tracer.dump(path)
            detail["trace_file"] = os.path.relpath(path, ROOT)
            detail["query_records"] = passes[1]["records"]
        return detail, {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    def _layer_metrics(self, passes: list[dict], input_bytes: int,
                       calib_s: float) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of the traced pass: per-query records summed
        over the pass; ratios (task skew: max; core busy) recomputed."""
        before, traced, after = passes
        recs = list(traced["records"].values())

        def total(key: str) -> float:
            return float(sum(r.get(key, 0.0) for r in recs))

        units = {
            "construct_s": "s", "construct.jobs": "count",
            "construct.task_s": "s",
            "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
            "catalyst.planning_ms": "ms",
            "plan.nodes": "count", "plan.exchanges": "count",
            "plan.broadcast_exchanges": "count",
            "plan.sort_aggregates": "count", "plan.python_nodes": "count",
            "plan.inmemory_scans": "count",
            "execute_s": "s", "exec.stages": "count", "exec.tasks": "count",
            "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
            "exec.input_bytes": "bytes", "exec.input_rows": "count",
            "exec.shuffle_read_bytes": "bytes",
            "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
            "cache.rdds": "count", "cache.mem_bytes": "bytes",
            "store.bytes_written": "bytes", "store.files_written": "count",
        }
        m = {k: (total(k), u) for k, u in units.items()}
        m["exec.task_skew"] = (
            max((r.get("exec.task_skew", 1.0) for r in recs), default=1.0), "ratio")
        execute_s = total("execute_s")
        m["exec.core_busy"] = (
            total("exec.task_s") / (execute_s * self.cores) if execute_s else 0.0,
            "ratio")
        # store size is a state, read after the pass's last query
        index_bytes = recs[-1]["store.index_bytes"] if recs else 0.0
        m["store.index_bytes"] = (index_bytes, "bytes")
        m["store.segment_dirs"] = (
            recs[-1]["store.segment_dirs"] if recs else 0.0, "count")
        m["write_amp"] = (total("store.bytes_written") / input_bytes, "ratio")
        m["space_amp"] = (index_bytes / input_bytes, "ratio")
        m["failed_ops"] = (self.failed / max(self.attempted, 1), "share")
        m["trace.overhead_s"] = (
            traced["pass_s"] - (before["pass_s"] + after["pass_s"]) / 2, "s")
        m["trace.pass_s"] = (traced["pass_s"], "s")
        m["host.calib_s"] = (calib_s, "s")
        return m

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to end."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=18.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test: a missing package fails the run here,
    # before anything is started or written
    sys.path.insert(0, ROOT)
    import configurable_etl_python_repo_spark  # noqa: F401
    import scripts.check_oracle  # noqa: F401
    import scripts.scale_smoke  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = None
    try:
        conf = _hygiene(work, bool(args.trace))
        bench = Bench(args, work, conf)
        detail, metrics = bench.run()
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": bench.failed == 0 and not detail["errors"],
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
