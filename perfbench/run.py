"""Benchmark of the dedup engine: one workload per process, closed loop.

    python3 perfbench/run.py --workload text_dedup --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from the
seed under ``.perfbench_work/`` (deleted at exit), starts the engine's
own session (``get_spark``), warms the job up, then runs jobs back to
back for ``--seconds`` and checks every job's output against ground
truth. stdout ends with one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``setup_s``, ``job_p50_s``).
``--trace 1`` instead alternates untraced and traced jobs, attaches the
per-layer readers of ``tracing.py`` to the traced ones only, and reports
the per-layer metrics; its spans go to ``.perfbench_out/``. Workloads
and the reasons for them are in ``NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "minefields_kafka_streams_deduplication_spark"
MIN_TIMED_JOBS = 4
NEARDUP_REPS = 2
SCAN_REPS = 3


def process_clock():
    """A clock reading seconds since this process started: the kernel's
    start time (clock-tick resolution) once, then perf_counter."""
    t0 = time.perf_counter()
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age0 = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return lambda: age0 + time.perf_counter() - t0


def environment(spark) -> dict:
    sc = spark.sparkContext
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark_driver_memory": sc.getConf().get("spark.driver.memory", None),
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": sha,
    }


def stop_engine(spark) -> None:
    """Stop Spark, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


class Runner:
    def __init__(self, spark, wl, fixture_dir: str) -> None:
        import minefields_kafka_streams_deduplication_spark as engine
        import workloads

        self.spark, self.wl, self.fixture_dir = spark, wl, fixture_dir
        self.queries = engine.get_queries()
        self.run_job = workloads.run_job
        self.answers: list = []
        self.raised = 0

    def job(self) -> float:
        """One job; its wall time, or None if it raised."""
        t0 = time.perf_counter()
        try:
            df = self.run_job(self.spark, self.queries, self.wl, self.fixture_dir)
        except Exception:
            traceback.print_exc()
            self.raised += 1
            return None
        dt = time.perf_counter() - t0
        self.keep_answer(df)
        return dt

    def keep_answer(self, df) -> None:
        # Outside the timed window: reduce the output to its canonical answer.
        try:
            self.answers.append(self.wl.answer(df))
        except Exception:
            traceback.print_exc()
            self.answers.append(None)
        self.spark.catalog.clearCache()

    def failed_checks(self, truth: dict) -> int:
        import numpy as np

        expected = self.wl.expected(self.fixture_dir, truth)
        return sum(
            1 for a in self.answers if a is None or not np.array_equal(a, expected)
        )


def timed_loop(seconds: float, step) -> None:
    deadline = time.perf_counter() + seconds
    n = 0
    while time.perf_counter() < deadline or n < MIN_TIMED_JOBS:
        step()
        n += 1


def run_untraced(r: Runner, seconds: float) -> list[float]:
    times: list[float] = []

    def step() -> None:
        dt = r.job()
        if dt is not None:
            times.append(dt)

    timed_loop(seconds, step)
    return times


def run_traced(r: Runner, seconds: float, spans) -> dict:
    """Alternate untraced and traced jobs; per-layer readers on traced ones."""
    import tracing as tr

    spark, sc = r.spark, r.spark.sparkContext
    cpu = tr.ProcessCpu(sc._gateway.proc.pid)
    progress = tr.ProgressLog()
    plain: list[float] = []
    traced: list[dict] = []
    sentinel = make_sentinel(spark)
    sentinel()

    def step() -> None:
        dt = r.job()
        if dt is not None:
            plain.append(dt)
        i = len(traced)
        rec = {"sentinel_s": sentinel()}
        group = f"perfbench-{i}"
        spark.streams.addListener(progress)
        sc.setJobGroup(group, "perfbench traced job")
        gc0, jvm0, py0 = tr.gc_ms(sc._jvm), cpu.jvm_s(), cpu.python_workers_s()
        try:
            with spans.span("job", i) as whole:
                with spans.span("call", i, "job") as call:
                    df = r.queries[r.wl.query](spark, r.fixture_dir)
                with spans.span("readback", i, "job") as rb:
                    df.write.format("noop").mode("overwrite").save()
            runs, rec["batches"] = progress.take()
        except Exception:
            traceback.print_exc()
            r.raised += 1
            return
        finally:
            sc.setJobGroup(None, None)
            spark.streams.removeListener(progress)
        rec.update(
            wall_s=whole.seconds,
            call_s=call.seconds,
            readback_s=rb.seconds,
            gc_ms=tr.gc_ms(sc._jvm) - gc0,
            jvm_cpu_s=cpu.jvm_s() - jvm0,
            py_cpu_s=cpu.python_workers_s() - py0,
        )
        rec["jobs"], rec["stages"], rec["tasks"] = tr.job_counts(sc, [group] + runs)
        with spans.span("check", i):
            r.keep_answer(df)
            rec["rows_out"] = df.count() if runs else None
        traced.append(rec)

    timed_loop(seconds, step)
    return {"plain": plain, "traced": traced}


def make_sentinel(spark):
    """Fixed JVM-only probe of box load: a grouped aggregate over
    spark.range, noop-sunk. (bench.make_sentinel scans a TPC-H fixture
    that a checkout does not contain.)"""
    df = spark.range(0, 2_000_000, numPartitions=4).selectExpr("id % 97 AS k").groupBy("k").count()

    def probe() -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    return probe


def streaming_layer(traced: list[dict]) -> dict:
    """streaming.* from the listener's batches of each traced job: times
    are means over jobs, counts medians."""

    def dur(t: dict, *keys: str, data: bool | None = None) -> float:
        return float(
            sum(
                b["duration_ms"].get(k, 0)
                for b in t["batches"]
                if data is None or (b["input_rows"] > 0) == data
                for k in keys
            )
        )

    def state(t: dict, key: str) -> list[float]:
        return [float(sum(o[key] for o in b["state"])) for b in t["batches"]]

    times = {
        "data_batch_ms": lambda t: dur(t, "triggerExecution", data=True),
        "nodata_batch_ms": lambda t: dur(t, "triggerExecution", data=False),
        "add_batch_ms": lambda t: dur(t, "addBatch"),
        "planning_ms": lambda t: dur(t, "queryPlanning"),
        "commit_log_ms": lambda t: dur(t, "walCommit", "commitOffsets"),
        "lifecycle_ms": lambda t: 1000 * t["call_s"] - dur(t, "triggerExecution")
        if t["batches"]
        else 0.0,
        "state_update_ms": lambda t: sum(state(t, "update_ms")),
        "state_commit_ms": lambda t: sum(state(t, "commit_ms")),
        "readback_s": lambda t: t["readback_s"] if t["batches"] else 0.0,
    }
    counts = {
        "batches": lambda t: len(t["batches"]),
        "input_rows": lambda t: sum(b["input_rows"] for b in t["batches"]),
        "output_rows": lambda t: t["rows_out"] or 0,
        "late_rows": lambda t: sum(state(t, "late")),
        "state_rows_updated": lambda t: sum(state(t, "rows_updated")),
        "state_rows_removed": lambda t: sum(state(t, "rows_removed")),
        "state_bytes": lambda t: max(state(t, "bytes"), default=0.0),
    }
    out = {}
    for k, f in times.items():
        out[f"streaming.{k}"] = (mean([f(t) for t in traced]), k.rsplit("_", 1)[1])
    for k, f in counts.items():
        out[f"streaming.{k}"] = (median([f(t) for t in traced]), "bytes" if k == "state_bytes" else "count")
    return out


def neardup_layer(spark, fixture_dir: str, spans, survivors: list[int]) -> tuple[dict, int]:
    """Self time of each stage of dedup_text_minhash, from successive
    prefix materializations of the functions the query composes, with
    the query's own caches (``base`` and ``banded``): a prefix that
    re-runs the stage before it (signature re-runs the collapse into the
    cache; verify re-runs the uncached candidate join) has that stage's
    time subtracted. Also the row count of each prefix, and the number
    of repetitions whose survivors, derived from the verify prefix the
    way the query derives them, differ from ``survivors``: a mismatch
    means the prefixes no longer follow the query."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from minefields_kafka_streams_deduplication_spark.catalog import load_table
    from minefields_kafka_streams_deduplication_spark.functions import neardup as nd

    def materialize(df, name: str, rep: int) -> tuple[float, int]:
        obs = Observation(f"nd_{name}_{rep}")
        with spans.span(f"neardup.{name}", rep) as sp:
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
        return sp.seconds, obs.get["n"]

    stages = ["collapse", "signature", "candidate", "verify"]
    self_s = {s: [] for s in stages}
    rows: dict[str, int] = {}
    mismatches = 0
    for rep in range(NEARDUP_REPS):
        docs = load_table(spark, fixture_dir, "documents")
        _, winners = nd._winner_collapse(
            docs, payload=("lang", "source", "text"), norm=F.lower(F.trim(F.col("text")))
        )
        t_collapse, rows["collapse"] = materialize(winners, "collapse", rep)
        base = nd._shingle_hash_array(winners, keep=("lang", "source")).cache()
        banded = nd._banded_from_hs(
            base.where(F.size("hs") > 0), nd.MINHASH_BANDS, nd.MINHASH_PERMS // nd.MINHASH_BANDS
        ).cache()
        t_signature, _ = materialize(banded, "signature", rep)
        cand = (
            banded.alias("x")
            .join(banded.alias("y"), ["band", "bhash"])
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_id_1"), F.col("y.doc_id").alias("doc_id_2"))
            .distinct()
        )
        t_candidate, rows["candidate"] = materialize(cand, "candidate", rep)
        verified = nd.exact_jaccard_for_pairs(
            base, cand, sets=base.select("doc_id", F.array_distinct("hs").alias("__sh"))
        ).filter(F.col("jaccard") >= nd.MINHASH_VERIFY_THRESHOLD)
        t_verify, rows["verify"] = materialize(verified, "verify", rep)
        with spans.span("neardup.check", rep):
            dupes = verified.select(F.col("doc_id_2").alias("doc_id")).distinct()
            got = sorted(
                row.doc_id for row in base.select("doc_id").join(dupes, "doc_id", "left_anti").collect()
            )
            mismatches += got != survivors
        spark.catalog.clearCache()
        self_s["collapse"].append(t_collapse)
        self_s["signature"].append(t_signature - t_collapse)
        self_s["candidate"].append(t_candidate)
        self_s["verify"].append(t_verify - t_candidate)
    values = {f"neardup.{s}_s": median(self_s[s]) for s in stages}
    values["neardup.distinct_texts"] = rows["collapse"]
    values["neardup.candidate_pairs"] = rows["candidate"]
    values["neardup.verified_pairs"] = rows["verify"]
    values["neardup.verify_yield"] = rows["verify"] / rows["candidate"] if rows["candidate"] else 0.0
    return {k: (v, NEARDUP_UNITS[k]) for k, v in values.items()}, mismatches


NEARDUP_UNITS = {
    "neardup.collapse_s": "s",
    "neardup.signature_s": "s",
    "neardup.candidate_s": "s",
    "neardup.verify_s": "s",
    "neardup.distinct_texts": "count",
    "neardup.candidate_pairs": "count",
    "neardup.verified_pairs": "count",
    "neardup.verify_yield": "ratio",
}


def layer_metrics(r: Runner, res: dict, spans, session_s: float, truth: dict) -> tuple[dict, int]:
    """Per-layer metrics of a traced run, and the count of failed
    consistency checks: conservation on each traced stream job, or the
    neardup prefixes' survivors (text workload)."""
    from minefields_kafka_streams_deduplication_spark.catalog import load_table

    spark, traced = r.spark, res["traced"]
    scans = []
    for i in range(SCAN_REPS):
        with spans.span("catalog.scan", i) as sp:
            load_table(spark, r.fixture_dir, r.wl.table).write.format("noop").mode(
                "overwrite"
            ).save()
        scans.append(sp.seconds)
    m = {"session.start_s": (session_s, "s"), "catalog.scan_s": (median(scans), "s")}
    m.update(streaming_layer(traced))
    m["python.worker_cpu_s"] = (mean([t["py_cpu_s"] for t in traced]), "s")
    broken = 0
    if r.wl.table == "documents":
        nd, broken = neardup_layer(spark, r.fixture_dir, spans, truth["survivors"])
        m.update(nd)
    else:
        m.update({k: (0, unit) for k, unit in NEARDUP_UNITS.items()})
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count")):
        m[f"spark.{k}"] = (median([t[k] for t in traced]), unit)
    m["jvm.gc_ms"] = (mean([t["gc_ms"] for t in traced]), "ms")
    m["jvm.cpu_s"] = (mean([t["jvm_cpu_s"] for t in traced]), "s")
    m["env.sentinel_s"] = (median([t["sentinel_s"] for t in traced]), "s")
    m["trace.overhead_s"] = (median([t["wall_s"] for t in traced]) - median(res["plain"]), "s")

    # Conservation on the dedup streams: rows in = rows out + rows the
    # dedup policy drops (known from ground truth) + late drops.
    if r.wl.table == "events":
        dropped = truth["rows"] - len(r.wl.expected(r.fixture_dir, truth))
        for t in traced:
            rows_in = sum(b["input_rows"] for b in t["batches"])
            late = sum(o["late"] for b in t["batches"] for o in b["state"])
            if rows_in != truth["rows"] or rows_in != t["rows_out"] + dropped + late:
                broken += 1
    return m, broken


def main(argv: list[str] | None = None) -> int:
    process_age_s = process_clock()
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = workloads.WORKLOADS[args.workload]

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's scratch, the engine's staging/checkpoint dirs (tempfile)
    # and the JVM's temp files stay inside the checkout. UsePerfData is
    # off because HotSpot writes that file to /tmp whatever
    # java.io.tmpdir says. PYTHONPATH lets the PySpark workers import
    # the engine (stream_ttl's state function).
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, ROOT)
    try:
        return bench(wl, args, work, process_age_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def bench(wl, args, work: str, process_age_s) -> int:
    import tracing as tr

    import minefields_kafka_streams_deduplication_spark as engine

    load_start = os.getloadavg()
    spans = tr.Spans()
    with spans.span("session", -1) as sp:
        spark = engine.get_spark("perfbench")
    session_s = sp.seconds
    try:
        fixture_dir = os.path.join(work, "fixture")
        with spans.span("inputs", -1):
            truth = wl.make_inputs(fixture_dir, args.seed)
        r = Runner(spark, wl, fixture_dir)
        warm = []
        with spans.span("warmup", -1):
            for _ in range(wl.warmup_jobs):
                t0 = time.perf_counter()
                r.run_job(spark, r.queries, wl, fixture_dir)
                warm.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
        setup_s = process_age_s()

        if args.trace:
            res = run_traced(r, args.seconds, spans)
            times = res["plain"]
        else:
            times = run_untraced(r, args.seconds)
        attempted = len(r.answers) + r.raised
        failed = r.raised + r.failed_checks(truth)
        env = environment(spark)
        if args.trace:
            metrics, broken = layer_metrics(r, res, spans, session_s, truth)
            failed += broken
        else:
            metrics = {"setup_s": (setup_s, "s"), "job_p50_s": (median(times), "s")}
    finally:
        stop_engine(spark)
    env["loadavg_start"], env["loadavg_end"] = load_start, os.getloadavg()
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "query": wl.query,
        "truth": {k: v for k, v in truth.items() if k != "survivors"},
        "warmup_s": warm,
        "job_s": times,
        "jobs": len(times),
        "env": env,
    }
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{wl.name}-{args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({**detail, "spans": spans.as_dicts(), "traced_jobs": res["traced"]}, fh)
    print(json.dumps(detail), flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
