#!/usr/bin/env python3
"""Seeded sketch-lifecycle benchmark.

    python3 perfbench/run.py --workload ingest_skewed --seed 1 \
        --seconds 30 --trace 0

Workloads (see ``workloads.py``): ``ingest_skewed`` (accumulate raw rows
into states) and ``rollup_queries`` (combine + estimate cached states, a
closed loop of one client); the traced run of ``ingest_skewed`` also
measures the MinHash-LSH dedup layer on a seeded corpus. One process
drives ``local[nproc]``. Inputs are generated from ``--seed``
into ``.perfbench_work/`` at the repository root; every op's output is
checked against numpy ground truth.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces every
other op (driver spans plus Spark's per-node SQL metrics) and prints the
per-layer metrics, including the traced / untraced latency ratio. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``; the line before it is the run's ledger
(environment, input digest, host CPU steal, dominant layer). Spans go to
``.perfbench_work/traces/``.

Each op has a wall-time bound (its Spark jobs are cancelled past it) and
the run a hard deadline; an op that raises, times out or fails its check
counts as failed, and the result line is printed either way.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "datasketches_spark_spark"
WORKLOADS = ("ingest_skewed", "rollup_queries")
SETUP_REPEATS = 3        # setup_s takes the median of this many input writes
STOP_OPS_AFTER_S = 130   # no new op starts this long after process start
HARD_DEADLINE_S = 170    # a hung run still prints its line by then


def _metric_units(section: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


# driver spans (wall) and executor metrics (task time, summed over tasks)
# that name a workload's dominant layer
_DRIVER_LAYERS = ("driver.plan_s", "sql.rewrite_s",
                  "operators.sketch_agg.call_s")
_TASK_LAYERS = {
    "sources": ("sources.scan_s",),
    "operators.sketch_agg": tuple(f"operators.sketch_agg.python_{k}_s"
                                  for k in ("boot", "init", "run")),
    "functions.udfs": tuple(f"functions.udfs.python_{k}_s"
                            for k in ("boot", "init", "run")),
    "shuffle": ("shuffle.write_s", "shuffle.fetch_wait_s"),
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


class Run:
    """One benchmark process: session, set-up, measured loop, result."""

    def __init__(self, args):
        self.args = args
        self.t_start = time.perf_counter()
        self.nproc = _nproc()
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.emitted = threading.Lock()
        self.units = _metric_units("per_layer" if args.trace
                                   else "end_to_end")
        self.spark = None
        self.sampler = None

    # ---------------------------------------------------------- set-up

    def start_session(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # workers import the package from the repository, wherever the
        # benchmark is launched from; temp and shuffle files stay inside it
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        from datasketches_spark_spark.sources import session_builder
        self.spark = (
            session_builder(master=f"local[{self.nproc}]", app="perfbench",
                            shuffle_partitions=self.nproc)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "1g")
            .config("spark.sql.warehouse.dir",
                    os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                    f"-Dderby.system.home={self.work}")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self):
        t0 = time.perf_counter()   # session start includes the imports
        import numpy as np

        from perfbench import ledger, workloads

        self.start_session()
        session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        proc = getattr(self.sc._gateway, "proc", None)
        self.sampler = ledger.ProcSampler(
            proc.pid if proc else None,
            interval=0.2 if self.args.trace else 1.0).start()
        self.tracer = ledger.Tracer(False)
        self.sql = ledger.SqlMetrics(self.spark) if self.args.trace else None
        wl = workloads.WORKLOADS[self.args.workload](
            self.spark, self.args.seed, os.path.join(self.work, "in"),
            self.tracer)
        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.digest = wl.prepare()
            prep.append(time.perf_counter() - t)
        wl.truth(np.random.default_rng([self.args.seed, 3]))
        t = time.perf_counter()
        try:
            wl.warm()
        except Exception as e:  # wrong or failing first use: the ops report it
            self.errors.append(f"warm-up: {type(e).__name__}: {str(e)[:300]}")
        warm_s = time.perf_counter() - t
        self.setup_s = session_s + statistics.median(prep) + warm_s
        self.setup_parts = {"session_s": session_s, "prepare_s": prep,
                            "warm_s": warm_s}
        self.wl = wl

    # ---------------------------------------------------------- loop

    def loop(self) -> None:
        from perfbench import ledger

        wl, sc, tr = self.wl, self.sc, self.tracer
        cpu0 = ledger.cpu_times()
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        if self.sql:
            self.sql.collect(wl.operator_layer)   # skip set-up executions
        while ((time.perf_counter() < deadline or i % wl.block)
               and time.perf_counter() - self.t_start < STOP_OPS_AFTER_S):
            traced = bool(self.args.trace) and i % 2 == 0
            tr.enabled = traced
            group = f"perfbench-{i}"
            sc.setJobGroup(group, f"perfbench {wl.name} op {i}",
                           interruptOnCancel=True)
            timer = threading.Timer(wl.op_bound_s, sc.cancelJobGroup, [group])
            rec = {"i": i, "traced": traced, "rows": wl.rows(i)}
            self.sampler.sample()
            t0 = rec["t0"] = time.perf_counter()
            self.ops.append(rec)
            timer.start()
            try:
                with tr.span("op", i):
                    out = wl.op(i)
                rec["s"] = time.perf_counter() - t0
                errs = wl.check(out)
                rec["out_rows"] = len(out[1] if isinstance(out, tuple)
                                      else out)
            except Exception as e:  # a failed op is counted, not fatal
                rec.setdefault("s", time.perf_counter() - t0)
                errs = [f"op {i}: {type(e).__name__}: {str(e)[:300]}"]
            finally:
                timer.cancel()
            tr.enabled = False
            self.sampler.sample()
            rec["spawned"] = self.sampler.workers_seen_between(
                t0, time.perf_counter())
            rec["ok"] = not errs
            self.errors += errs
            if self.sql:
                # every op's executions are consumed, so a traced op's
                # sums hold only its own
                layers = self.sql.collect(wl.operator_layer)
            if traced:
                rec["layers"] = layers
                rec["jobs"], rec["tasks"] = ledger.job_counts(sc, group)
            i += 1
        self.steal = ledger.steal_share(cpu0, ledger.cpu_times())

    # ---------------------------------------------------------- metrics

    def end_to_end(self) -> dict[str, float]:
        times = [r["s"] for r in self.ops]
        p90 = (statistics.quantiles(times, n=10, method="inclusive")[-1]
               if len(times) > 1 else times[0])
        failed = sum(not r["ok"] for r in self.ops)
        return {
            "setup_s": self.setup_s,
            "op_p50_s": _median(times),
            "op_p90_s": p90,
            "rows_per_s": sum(r["rows"] for r in self.ops) / sum(times),
            "ops_per_s": len(times) / sum(times),
            "ok_ratio": (len(times) - failed) / len(times),
            "peak_rss_mb": self.sampler.peak_mb(),
            "state_bytes_per_row": self.wl.state_bytes_per_row(),
        }

    def per_layer(self) -> dict[str, float]:
        traced = [r for r in self.ops if r["traced"]]
        plain = [r["s"] for r in self.ops if not r["traced"]]
        out = {k: 0.0 for k in self.units}
        keys = {k for r in traced for k in r.get("layers", {})}
        for k in keys:
            out[k] = _median([r["layers"].get(k, 0.0) for r in traced])
        op_layer = self.wl.operator_layer
        if op_layer == "operators.sketch_agg":
            partial = _median([r["layers"].get(f"{op_layer}.output_rows", 0.0)
                               for r in traced])
            out[f"{op_layer}.partial_rows"] = partial
            outs = _median([r.get("out_rows", 0) for r in traced])
            out[f"{op_layer}.groups_per_partial_row"] = (
                outs / partial if partial else 0.0)
        for name, key in (("driver.plan", "driver.plan_s"),
                          ("sql.rewrite", "sql.rewrite_s"),
                          ("operators.sketch_agg.call",
                           "operators.sketch_agg.call_s"),
                          ("driver.execute", "driver.collect_s")):
            durs = [s["end"] - s["start"] for s in self.tracer.spans
                    if s["name"] == name and s["op"] >= 0]
            out[key] = _median(durs)
        out["driver.jobs"] = _median([r["jobs"] for r in traced])
        out["driver.tasks"] = _median([r["tasks"] for r in traced])
        out["python_workers.spawned"] = (
            sum(r["spawned"] for r in self.ops) / len(self.ops))
        traced_p50 = _median([r["s"] for r in traced])
        out["trace.overhead"] = traced_p50 / _median(plain, traced_p50)
        out["trace.span_coverage"] = _median(self._coverage())
        extras, errs = self.wl.traced_extras(traced_p50, self.nproc,
                                             self.sql)
        out.update(extras)
        self.errors += errs
        self.dominant = self._dominant(out)
        return {k: out.get(k, 0.0) for k in self.units}

    def _coverage(self) -> list[float]:
        spans = self.tracer.spans
        cover = []
        for idx, s in enumerate(spans):
            if s["name"] != "op" or s["op"] < 0:
                continue
            kids = self.tracer.children(idx)
            cover.append(sum(k["end"] - k["start"] for k in kids)
                         / (s["end"] - s["start"]))
        return cover

    def _dominant(self, out: dict) -> str:
        """Largest layer by wall: driver spans as measured, executor task
        time divided by the cores it ran on, the rest of the collect span
        as ``jvm.other``."""
        cand = {k: out.get(k, 0.0) for k in _DRIVER_LAYERS}
        for layer, keys in _TASK_LAYERS.items():
            cand[layer] = sum(out.get(k, 0.0) for k in keys) / self.nproc
        # what the collect span spent outside the measured executor layers:
        # JVM operators, codegen and scheduling
        cand["jvm.other"] = out.get("driver.collect_s", 0.0) - sum(
            cand[layer] for layer in _TASK_LAYERS)
        return max(cand, key=cand.get)

    # ---------------------------------------------------------- output

    def env(self) -> dict:
        import numpy
        import pandas
        import pyarrow
        import pyspark
        confs = dict(self.spark.sparkContext.getConf().getAll())
        for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                  "spark.sql.execution.arrow.maxRecordsPerBatch",
                  "spark.sql.execution.pythonUDF.arrow.enabled",
                  "spark.python.worker.reuse"):
            confs[k] = self.spark.conf.get(k, None)
        return {"nproc": self.nproc, "python": sys.version.split()[0],
                "spark": self.spark.version, "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
                "pandas": pandas.__version__,
                "OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS"),
                "spark_confs": {k: confs[k] for k in sorted(confs)
                                if not k.endswith("extraJavaOptions") and k
                                not in ("spark.app.id", "spark.app.startTime",
                                        "spark.driver.port")}}

    def emit(self, metrics: dict, extra: dict) -> None:
        if not self.emitted.acquire(blocking=False):
            return
        failed = sum(not r.get("ok", False) for r in self.ops)
        ledger_line = {"perfbench": "ledger", "workload": self.args.workload,
                       "seed": self.args.seed, "trace": self.args.trace,
                       "input_digest": getattr(self, "digest", None),
                       "errors": self.errors[:10], **extra}
        print(json.dumps(ledger_line, default=str))
        print(json.dumps({
            "correct": not self.errors and failed == 0,
            "attempted": max(len(self.ops), 1),
            "failed": failed if self.ops else 1,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                        for k, u in self.units.items()}}), flush=True)

    def shutdown(self) -> None:
        if self.sampler:
            self.sampler.stop()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()      # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()


def _watchdog(run: Run) -> None:
    """A run that hangs past the hard deadline still prints its line:
    the op in flight counts as failed. Then every process is stopped."""
    time.sleep(max(0.0, HARD_DEADLINE_S - (time.perf_counter() - run.t_start)))
    run.errors.append("run hit the hard deadline; op in flight failed")
    metrics = {}
    if run.ops:
        last = run.ops[-1]
        last["ok"] = False
        last.setdefault("s", time.perf_counter() - last["t0"])
        if not run.args.trace and hasattr(run, "setup_s"):
            metrics = run.end_to_end()
    run.emit(metrics, {"hung": True})
    sc = getattr(run.spark, "sparkContext", None)
    proc = getattr(getattr(sc, "_gateway", None), "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    shutil.rmtree(run.work, ignore_errors=True)
    os._exit(0)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{WORKLOADS}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    threading.Thread(target=_watchdog, args=(run,), daemon=True).start()
    try:
        run.setup()
        run.loop()
        if args.trace:
            metrics = run.per_layer()
            extra = {"dominant_layer": run.dominant}
            os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"),
                        exist_ok=True)
            run.tracer.write(os.path.join(
                ROOT, ".perfbench_work", "traces",
                f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = run.end_to_end()
            extra = {"setup": run.setup_parts,
                     "peak_rss": run.sampler.breakdown()}
        extra["env"] = run.env()
        extra["op_s"] = [round(r["s"], 4) for r in run.ops]
        extra["cpu_steal_share"] = run.steal
    except Exception:
        traceback.print_exc()
        run.shutdown()
        shutil.rmtree(run.work, ignore_errors=True)
        return 1
    run.shutdown()
    shutil.rmtree(run.work, ignore_errors=True)
    run.emit(metrics, extra)
    return 0


if __name__ == "__main__":
    sys.exit(main())
