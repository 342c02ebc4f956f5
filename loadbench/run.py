#!/usr/bin/env python3
"""Closed-loop workload benchmark for the engine.

    python3 loadbench/run.py --workload corpus_dedup --seed 1 --seconds 30 --trace 0

Run from the repository root. One client (this process) drives one
``build_session()`` at ``local[N]`` (N = usable cores) with one operation
in flight at a time, for ``--seconds`` seconds after set-up. ``--seed``
shapes the generated inputs only. Every result is checked against an
independent expectation outside the timed region.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables the
Spark REST API, wraps the calls into the program's modules in spans and
reports the per-layer metrics instead. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines above it
list every metric by name and unit. Exits non-zero without a result when
the package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

import procfs
import spans
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "postgres_etl_pipeline_spark"
WATCHDOG_S = 170  # the run must end within 180 s

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB"}  # name -> unit; BENCHMARK.json gates these
# Printed but not gated: their run-to-run spread on a shared 4-core machine
# exceeds the largest bound a gated metric may have (see README).
TIMING = {"op_p50_s": "s", "cpu_s_per_op": "s", "ops_per_min": "1/min", "rows_per_s": "1/s"}
CORPUS_ENTRIES = workloads.CorpusDedup.ENTRIES
EXEC_UNITS = {
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.busy_share": "ratio",
    "exec.wait_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
}
PER_LAYER = {  # name -> unit
    "session.start_s": "s",
    "queries.plan_s": "s",
    **{f"query.{e}.p50_s": "s" for e in CORPUS_ENTRIES},
    **EXEC_UNITS,
    "python.udf_s": "s",
    "python.arrow_mb": "MB",
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "ratio",
    "pair_cache.hit_ratio": "ratio",
    "pair_cache.fill_s": "s",
    "grocery.ingest_s": "s",
    "grocery.validate_s": "s",
    "grocery.load_s": "s",
    "grocery.reconcile_s": "s",
    "grocery.mart_s": "s",
    "sinks.upsert_s": "s",
    "sinks.rewrite_ratio": "ratio",
    "sinks.files_written": "count",
    "checks.gate_s": "s",
    "stream.drain_s": "s",
    "stream.batches": "count",
    "stream.floor_s": "s",
    "datagen.payload_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "trace.overhead_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("corpus_dedup", "etl_upsert"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-memory", default="2g", help="JVM heap (spark.driver.memory)")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark run: set-up, closed loop, checks, report."""

    def __init__(self, args: argparse.Namespace, work: str):
        self.args, self.work = args, work
        self.tracer = spans.Tracer(enabled=bool(args.trace))
        self.wl = workloads.WORKLOADS[args.workload](work, args.seed, self.tracer)
        self.spark = None

    # --- session -----------------------------------------------------------
    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": self.args.driver_memory,
            # keep the JVM's temp files in the work directory; no hsperfdata in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf |= {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        return conf

    def _build(self):
        from postgres_etl_pipeline_spark.session import build_session

        return self.tracer.call(
            "session.start", build_session,
            app_name=f"loadbench-{self.args.workload}", extra_conf=self._conf(),
        )

    def _alive(self) -> bool:
        try:
            return not self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:  # the JVM or the py4j gateway is gone
            return False

    def _revive(self) -> None:
        """Rebuild the session after an operation stopped the context (an
        OOM, say), keeping the workload's on-disk state, so the run goes on."""
        from pyspark import SparkContext

        if self._alive():
            return
        try:
            self.spark.stop()
        except Exception:
            traceback.print_exc(file=sys.stderr)
        gw = SparkContext._gateway
        if gw is not None and gw.proc.poll() is not None:
            SparkContext._gateway = SparkContext._jvm = None
        self.spark = self._build()
        self.wl.attach(self.spark)

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc(file=sys.stderr)
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            finally:
                gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    gw.proc.wait(timeout=60)
                except Exception:
                    gw.proc.kill()
                    gw.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None

    # --- phases ------------------------------------------------------------
    def setup(self) -> float:
        """One set-up: a fresh session and the workload's starting state."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self._build()
        self.wl.setup(self.spark)
        return time.perf_counter() - t0

    def attempt(self, op: workloads.Op, i: int, warm: bool) -> workloads.Record:
        """Run one operation; a failure is recorded, never raised."""
        pid = os.getpid()
        rec = workloads.Record(i, op.label, op.input_rows, warm=warm)
        if self.args.trace:
            cpu0, ovh0 = procfs.python_worker_cpu_s(pid), self.tracer.overhead_s
        self.tracer.op_id = rec.i
        rec.t0 = time.time()
        t0 = time.perf_counter()
        try:
            rec.result = op.run(self.spark)
        except Exception as e:  # the loop must survive any failed op
            rec.ok, rec.error = False, repr(e)[:500]
            traceback.print_exc(file=sys.stderr)
        rec.latency_s = time.perf_counter() - t0
        self.tracer.op_id = None
        if not rec.ok:
            self._revive()
        if self.args.trace:
            rec.extra["python_cpu_s"] = procfs.python_worker_cpu_s(pid) - cpu0
            rec.extra["trace_overhead_s"] = self.tracer.overhead_s - ovh0
        self.wl.observe(rec)
        print(f"op {rec.i} {rec.label} {rec.latency_s:.3f} s {'ok' if rec.ok else 'FAILED'}",
              file=sys.stderr, flush=True)
        return rec

    def loop(self) -> tuple[list, float]:
        """The closed loop: operations back to back for at least
        ``--seconds``, ending on a whole round of the mix so that every run
        measures the same mix."""
        records = []
        stream = self.wl.ops()
        start = time.perf_counter()
        deadline = start + self.args.seconds
        while len(records) % self.wl.round_len or not records or time.perf_counter() < deadline:
            records.append(self.attempt(next(stream), len(records), warm=False))
        return records, time.perf_counter() - start

    def instrument(self) -> None:
        """Span the public functions of each layer the workloads call."""
        from postgres_etl_pipeline_spark import checks, datagen, queries_ext
        from postgres_etl_pipeline_spark.connectors import sinks
        from postgres_etl_pipeline_spark.pipelines import grocery
        from postgres_etl_pipeline_spark.streaming import runner

        t = self.tracer
        for fn in ("ingest", "validate_and_stage", "load", "reconcile", "build_mart"):
            t.wrap(grocery, fn, f"grocery.{fn}")
        t.wrap(sinks, "upsert_parquet", "sinks.upsert_parquet")
        t.wrap(runner, "run_upsert_sink", "stream.run_upsert_sink")
        t.wrap(datagen, "transactions_raw_text", "datagen.transactions_raw_text")
        for fn in ("enforce", "artifacts_exist", "corrupt_and_shape",
                   "required_and_not_null", "canary_threshold_count",
                   "not_null_and_non_empty"):
            t.wrap(checks, fn, f"checks.{fn}")
        # The shared pair stage is private, but it is the cache layer.
        orig = queries_ext._minhash_pair_stage

        def stage(spark, sf_dir):
            before = set(queries_ext._PAIR_STAGE_CACHE)
            out = t.call("pair_cache.lookup", orig, spark, sf_dir)
            span = next(s for s in reversed(t.spans) if s["name"] == "pair_cache.lookup")
            span["hit"] = not (set(queries_ext._PAIR_STAGE_CACHE) - before)
            return out

        queries_ext._minhash_pair_stage = stage
        t._patched.append((queries_ext, "_minhash_pair_stage", orig))

    def run(self) -> dict:
        if self.args.trace:
            self.instrument()
        self.wl.prepare()
        # The first set-up launches the JVM, which the checks' oracle
        # process may overlap; it is held during the later set-ups and
        # resumes for the (untimed) warm-up. The warm-up and the timed
        # loop share the last set-up's session.
        self.wl.start_checks()
        setup_times = [self.setup()]
        self.wl.hold_checks(True)
        setup_times += [self.setup() for _ in range(self.wl.setups - 1)]
        self.wl.hold_checks(False)
        t0 = time.perf_counter()
        warm = [self.attempt(op, -1 - i, warm=True) for i, op in enumerate(self.wl.warmup())]
        self.wl.settle()
        warm_s = time.perf_counter() - t0
        self.wl.begin_timed()
        with procfs.PeakRss(os.getpid()) as rss:  # the oracle process has ended
            cpu0 = procfs.work_cpu_s(os.getpid())
            timed, wall = self.loop()
            cpu = procfs.work_cpu_s(os.getpid()) - cpu0
        records = warm + timed
        t0 = time.perf_counter()
        self.wl.check(records, self.spark)
        check_s = time.perf_counter() - t0
        failed = sum(not r.ok for r in records)
        # a failed operation counts as missing any latency limit
        lat = [r.latency_s if r.ok else max(r.latency_s, self.args.seconds) for r in timed]
        done = [r for r in timed if r.ok]
        e2e = {
            "setup_s": stats.median(setup_times),
            "op_p50_s": stats.median(lat),
            "cpu_s_per_op": cpu / len(timed),
            "ops_per_min": len(done) / wall * 60,
            "rows_per_s": sum(r.input_rows for r in done) / wall,
            "peak_rss_mb": rss.peak / 2**20,
        }
        tail_p = stats.tail_percentile(len(lat))
        info = {
            "samples": len(lat),
            "op_tail_s": (f"p{tail_p:g}", stats.quantile(lat, tail_p)) if tail_p else None,
            "failed_op_ratio": failed / len(records),
            "setup_each_s": setup_times,
            "warmup_s": warm_s,
            "timed_s": wall,
            "check_s": check_s,
            **{k: v for k, v in self.wl.storage().items() if k in ("write_amp", "space_amp")},
            "errors": sorted({r.error for r in records if r.error}),
        }
        out = {"records": records, "e2e": e2e, "info": info, "failed": failed}
        if self.args.trace:
            out["layers"] = self.layers(timed)
        return out

    # --- traced run ----------------------------------------------------------
    def layers(self, records) -> dict:
        """Per-layer metrics of the timed operations. A layer's call time is
        the median, over the operations that call it, of the time its spans
        take in one operation; Spark and Python-worker figures are means per
        operation, since most operations of a mix may not touch them."""
        self.tracer.unwrap_all()
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(self.wl.trace_extras(self.spark))
        m.update(self.wl.storage())
        sp = self.tracer.spans

        def med(xs):
            xs = list(xs)
            return stats.median(xs) if xs else 0.0

        timed_ids = {r.i for r in records}

        def per_op(match) -> list[float]:
            sums: dict[int, float] = {}
            for s in sp:
                if s["op"] in timed_ids and match(s):
                    sums[s["op"]] = sums.get(s["op"], 0.0) + s["end"] - s["start"]
            return list(sums.values())

        named = lambda n: per_op(lambda s: s["name"] == n)  # noqa: E731
        m["session.start_s"] = med(s["end"] - s["start"] for s in sp if s["name"] == "session.start")
        m["queries.plan_s"] = med(named("queries.plan"))
        for e in CORPUS_ENTRIES:
            m[f"query.{e}.p50_s"] = med(r.latency_s for r in records if r.label == e)
        for stage, metric in (("ingest", "ingest"), ("validate_and_stage", "validate"),
                              ("load", "load"), ("reconcile", "reconcile"),
                              ("build_mart", "mart")):
            m[f"grocery.{metric}_s"] = med(named(f"grocery.{stage}"))
        m["sinks.upsert_s"] = med(named("sinks.upsert_parquet"))
        ids = {s["id"]: s for s in sp}
        m["checks.gate_s"] = med(per_op(
            lambda s: s["name"].startswith("checks.")
            and not (s["parent"] in ids and ids[s["parent"]]["name"].startswith("checks."))
        ))
        m["stream.drain_s"] = med(named("stream.run_upsert_sink"))
        drains = {r.i for r in records if r.label == "stream_drain"}
        m["stream.batches"] = med(
            sum(1 for s in sp if s["op"] == i and s["name"] == "sinks.upsert_parquet") for i in drains
        )
        m["datagen.payload_s"] = med(named("datagen.transactions_raw_text"))
        lookups = [s for s in sp if s["name"] == "pair_cache.lookup" and s["op"] in timed_ids]
        m["pair_cache.hit_ratio"] = stats.ratio(sum(s["hit"] for s in lookups), len(lookups))
        m["pair_cache.fill_s"] = med(s["end"] - s["start"] for s in lookups if not s["hit"])
        m["python.udf_s"] = sum(r.extra["python_cpu_s"] for r in records) / len(records)
        m["trace.overhead_s"] = med(r.extra["trace_overhead_s"] for r in records)
        m.update(self.exec_metrics(records, spans.rest_snapshot(self.spark.sparkContext.uiWebUrl)))
        os.makedirs(os.path.join(ROOT, ".loadbench", "out"), exist_ok=True)
        self.span_file = os.path.join(
            ROOT, ".loadbench", "out", f"spans-{self.args.workload}-seed{self.args.seed}.jsonl"
        )
        self.tracer.write(self.span_file)
        return m

    @staticmethod
    def exec_metrics(records, snap: dict) -> dict:
        """Per-operation Spark execution metrics, attributed to operations by
        submission time (one client, so operations never overlap); each
        metric is the mean over the timed operations."""
        jobs = [
            (spans.parse_time(j["submissionTime"]),
             spans.parse_time(j["completionTime"]) if "completionTime" in j else None)
            for j in snap["jobs"] if "submissionTime" in j
        ]
        stages = [(spans.parse_time(s["submissionTime"]), s)
                  for s in snap["stages"] if "submissionTime" in s]
        sqls = [(spans.parse_time(x["submissionTime"]), x) for x in snap["sql"]]
        rows = {k: [] for k in (*EXEC_UNITS, "python.arrow_mb")}
        n = cores()
        for r in records:
            lo, hi = r.t0, r.t0 + r.latency_s
            inside = lambda t: lo - 0.002 <= t <= hi + 0.002  # noqa: E731  ms clock
            js = [(s, e if e is not None else hi) for s, e in jobs if inside(s)]
            ss = [s for t, s in stages if inside(t)]
            run_s = sum(s.get("executorRunTime", 0) for s in ss) / 1e3
            rows["exec.jobs"].append(len(js))
            rows["exec.stages"].append(len(ss))
            rows["exec.tasks"].append(sum(s.get("numTasks", 0) for s in ss))
            rows["exec.busy_share"].append(stats.ratio(run_s, r.latency_s * n))
            rows["exec.wait_s"].append(
                r.latency_s - stats.union_length((max(s, lo), min(e, hi)) for s, e in js)
            )
            rows["exec.cpu_s"].append(sum(s.get("executorCpuTime", 0) for s in ss) / 1e9)
            rows["exec.gc_s"].append(sum(s.get("jvmGcTime", 0) for s in ss) / 1e3)
            for key, field in (("exec.input_mb", "inputBytes"),
                               ("exec.shuffle_write_mb", "shuffleWriteBytes"),
                               ("exec.shuffle_read_mb", "shuffleReadBytes"),
                               ("exec.spill_mb", "diskBytesSpilled")):
                rows[key].append(sum(s.get(field, 0) for s in ss) / 1e6)
            rows["python.arrow_mb"].append(
                sum(spans.sql_python_bytes(x) for t, x in sqls if inside(t)) / 1e6
            )
        return {k: sum(v) / len(v) if v else 0.0 for k, v in rows.items()}


def _kill_tree() -> None:
    me = os.getpid()
    for pid in procfs.tree(me):
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _watchdog() -> None:
    print(f"loadbench: no result within {WATCHDOG_S}s, aborting", file=sys.stderr, flush=True)
    _kill_tree()
    os._exit(3)


def _prepare_env(work: str) -> None:
    for sub in ("tmp", "spark-local", "ckpt", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    n = str(cores())
    os.environ.update({
        "SPARK_GRAFT_CPUS": n,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_STREAM_CKPT_BASE": os.path.join(work, "ckpt"),
        # spark-submit's launcher JVM: no hsperfdata file in /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def report(args, res: dict, bench: Bench) -> None:
    wl, info = args.workload, res["info"]
    for name, unit in (END_TO_END | TIMING).items():
        print(f"{wl} {name} = {res['e2e'][name]:.6g} {unit}")
    tail = info["op_tail_s"]
    print(f"{wl} op_tail_s = " + (f"{tail[1]:.6g} s ({tail[0]})" if tail else
          f"n/a (needs >= 20 samples beyond p50, have {info['samples']})"))
    print(f"{wl} failed_op_ratio = {info['failed_op_ratio']:.6g} ratio")
    for k in ("write_amp", "space_amp"):
        if k in info:
            print(f"{wl} {k} = {info[k]:.6g} ratio")
    print(f"{wl} samples = {info['samples']} ops in {info['timed_s']:.3f} s;"
          f" setups {', '.join(f'{s:.3f}' for s in info['setup_each_s'])} s;"
          f" warm-up {info['warmup_s']:.3f} s;"
          f" check {info['check_s']:.3f} s")
    for err in info["errors"]:
        print(f"{wl} error: {err}")
    if "layers" in res:
        for name, unit in PER_LAYER.items():
            print(f"{wl} {name} = {res['layers'][name]:.6g} {unit}")
        print(f"{wl} spans written to {os.path.relpath(bench.span_file, ROOT)}")
    metrics = res["layers"] if "layers" in res else res["e2e"]
    units = PER_LAYER if "layers" in res else END_TO_END
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": len(res["records"]),
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_harness.py")
    ):
        print(f"loadbench: {PACKAGE}/ and tests/ must sit next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".loadbench", f"run-{args.workload}-{os.getpid()}")
    _prepare_env(work)
    sys.path.insert(1, ROOT)
    timer = threading.Timer(WATCHDOG_S, _watchdog)
    timer.daemon = True
    timer.start()
    bench = Bench(args, work)
    try:
        res = bench.run()
    finally:
        bench.wl.close()
        bench.shutdown()
        timer.cancel()
        _kill_tree()
        shutil.rmtree(work, ignore_errors=True)
    report(args, res, bench)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
