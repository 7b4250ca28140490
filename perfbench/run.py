#!/usr/bin/env python3
"""Benchmark for the osmflat_rs_spark engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see WORKLOADS.md) on ``local[<cores>]`` in this process:
session start, seeded inputs (generated once per seed and size, then read
from ``perfbench/.cache``), one untimed check pass that also warms the
session, then timed passes until ``--seconds`` have passed. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics from the Spark event log and the call spans with
``--trace 1``). ``--workload all`` runs every workload untraced and traced
in child processes and prints the tracing overhead and the reconciliation
of per-call times with wall time. Each run also writes its spans, calls
and session settings to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, "out")

END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s", "peak_rss_gb": "GB"}
SPARK_TOTALS = [
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "py_worker_s", "py_bytes_sent", "py_bytes_returned",
]
PER_LAYER = {
    "spark.jobs": "count", **{f"spark.{k}": ("s" if k.endswith("_s") else "bytes" if "bytes" in k else "count")
                              for k in SPARK_TOTALS},
    "spark.plan_s": "s", "spark.rows_per_output_row": "ratio",
    "calls.build_s": "s", "calls.exec_s": "s", "calls.eager_jobs": "count", "calls.rows_out": "count",
    "plans.checkpoint.persisted_rdds_after": "count", "plans.checkpoint.cached_bytes_after": "bytes",
    "trace.wall_s": "s", "trace.calls_s": "s",
}


class PassAborted(Exception):
    """A call failed; the rest of its pass is skipped (already counted)."""


def host_settings(cpus: int, work: str, trace: bool) -> dict[str, str]:
    """Session settings fitted to this host: the driver heap is a quarter of
    physical RAM (1-8 GB), scratch, warehouse and JVM temp files stay in
    the run's work directory, and a traced run logs Spark events there.
    The heap starts at full size with a fixed young generation, so the
    resident set follows live data rather than the collector's resizing."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    heap_gb = max(1, min(8, int(ram_gb // 4)))
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.memory.offHeap.size": f"{max(1, heap_gb // 3)}g",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                         f"-Xms{heap_gb}g -Xmn{heap_gb * 1024 // 6}m",
        "spark.pyspark.python": sys.executable,
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


class Bench:
    """One benchmark run: the session, the call wrapper and the records."""

    def __init__(self, seed: int, trace: bool, cpus: int, work: str):
        from inputs import InputCache
        from tracing import Tracer

        self.seed, self.trace, self.cpus, self.work = seed, trace, cpus, work
        self.cache = InputCache(CACHE)
        self.tracer = Tracer(f"s{seed}-{os.getpid()}")
        self.spark = None
        self.pass_idx = -1  # -1 = the untimed check pass
        self.records: list[dict] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.notes: dict = {}
        self.plan_probe_s = 0.0  # time spent reading planning phases in this pass

    # -- helpers the workloads use ----------------------------------------
    def scratch_dir(self, name: str) -> str:
        path = os.path.join(self.work, f"{name}-{self.pass_idx + 1}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def pinned(self, pin_dir: str, name: str, obs) -> bool:
        """Compare ``obs`` with the pin stored for this seed and size; the
        first run of a seed in a checkout records it."""
        pins = self.cache.get_json(pin_dir, "pins.json") or {}
        if name not in pins:
            pins[name] = obs
            self.cache.put_json(pin_dir, "pins.json", pins)
        return pins[name] == obs

    def record_model_checks(self, result: dict[str, int]) -> None:
        for name, bad in result.items():
            self.attempted += 1
            if bad:
                self.failed += 1
                self.failures.append(f"model:{name} ({bad} rows differ)")

    # -- the call wrapper ----------------------------------------------------
    def call(self, name, build, force="noop", verify=None):
        """Build a call's result (timed as build_s, including any jobs run
        eagerly), then force it (exec_s): ``"noop"`` writes a DataFrame to
        the noop sink, a function is applied to it, None does nothing. On
        the check pass ``verify(result) -> (ok, rows)`` replaces the noop
        sink. After the call, the persisted state of the session is probed."""
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        rec = {"pass": self.pass_idx, "name": name}
        self.attempted += 1
        desc = f"pb:{self.pass_idx}:{name}"
        try:
            sc.setJobDescription(desc + ":build")
            sid = self.tracer.start(name, phase="build", pass_idx=self.pass_idx)
            obj = build()
            rec["build_s"] = self.tracer.end(sid)
            if self.trace and isinstance(obj, DataFrame):
                from tracing import planning_s

                # planning the frame's own QueryExecution repeats work the
                # noop write does again, so its span is left out of the pass
                sc.setJobDescription(desc + ":plan")
                sid = self.tracer.start(name, phase="plan", pass_idx=self.pass_idx)
                rec["plan_s"] = planning_s(obj)
                self.plan_probe_s += self.tracer.end(sid)
            sc.setJobDescription(desc + ":exec")
            sid = self.tracer.start(name, phase="exec", pass_idx=self.pass_idx)
            if force == "noop":
                if verify is None or self.pass_idx >= 0:
                    obj.write.mode("overwrite").format("noop").save()
            elif force is not None:
                rec.update(force(obj) or {})
            rec["exec_s"] = self.tracer.end(sid)
            if verify is not None and self.pass_idx < 0:
                ok, rec["rows_out"] = verify(obj)
                if not ok:
                    self.failed += 1
                    self.failures.append(f"{name}: output differs from its reference")
        except Exception:
            self.tracer.unwind(name)
            self.failed += 1
            self.failures.append(f"{name}: raised")
            traceback.print_exc(file=sys.stderr)
            raise PassAborted(name) from None
        finally:
            sc.setJobDescription(None)
        rec["persisted_rdds_after"], rec["cached_bytes_after"] = persisted_state(self.spark)
        self.records.append(rec)
        return obj

    def run_pass(self, workload) -> float | None:
        """One pass; returns its wall time, or None if a call failed. Cached
        state is released afterwards so that passes stay independent."""
        sid = self.tracer.start("pass", pass_idx=self.pass_idx)
        self.plan_probe_s = 0.0
        try:
            workload.run_pass(self)
            return self.tracer.end(sid) - self.plan_probe_s
        except PassAborted:
            return None
        except Exception:
            self.attempted += 1
            self.failed += 1
            self.failures.append(f"pass {self.pass_idx}: raised")
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            self.tracer.unwind()
            release_cached(self.spark)


def persisted_state(spark) -> tuple[int, int]:
    """(persisted RDDs, their cached bytes in memory + disk)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return int(jsc.getPersistentRDDs().size()), int(sum(i.memSize() + i.diskSize() for i in infos))


def release_cached(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _percentile(xs: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else 0.0


def layer_metrics(b: Bench, events: dict[str, dict], pass_s: list[float]) -> tuple[dict, list[dict]]:
    """Per-layer metrics (medians over timed passes) and per-call detail."""
    timed = [r for r in b.records if r["pass"] >= 0]
    rows_out = {r["name"]: r.get("rows_out", 0) for r in b.records if r["pass"] < 0}
    passes = sorted({r["pass"] for r in timed})
    per_pass: dict[int, dict] = {p: {} for p in passes}
    for desc, tot in events.items():
        parts = desc.split(":")
        if len(parts) != 4 or parts[0] != "pb" or int(parts[1]) not in per_pass:
            continue
        d = per_pass[int(parts[1])]
        for k, v in tot.items():
            d[k] = d.get(k, 0.0) + v
        if parts[3] == "build":
            d["eager_jobs"] = d.get("eager_jobs", 0) + tot.get("jobs", 0)
    for r in timed:
        d = per_pass[r["pass"]]
        d["build_s"] = d.get("build_s", 0.0) + r["build_s"]
        d["exec_s"] = d.get("exec_s", 0.0) + r["exec_s"]
        d["plan_s"] = d.get("plan_s", 0.0) + r.get("plan_s", 0.0)
        d["persisted_rdds_after"] = r["persisted_rdds_after"]
        d["cached_bytes_after"] = r["cached_bytes_after"]
    med = lambda k: _median([per_pass[p].get(k, 0.0) for p in passes])  # noqa: E731
    total_rows = sum(rows_out.values())
    m = {"spark.jobs": med("jobs"), **{f"spark.{k}": med(k) for k in SPARK_TOTALS},
         "spark.plan_s": med("plan_s"),
         "spark.rows_per_output_row": med("rows_produced") / max(1, total_rows),
         "calls.build_s": med("build_s"), "calls.exec_s": med("exec_s"),
         "calls.eager_jobs": med("eager_jobs"), "calls.rows_out": float(total_rows),
         "plans.checkpoint.persisted_rdds_after": med("persisted_rdds_after"),
         "plans.checkpoint.cached_bytes_after": med("cached_bytes_after"),
         "trace.wall_s": _median(pass_s), "trace.calls_s": med("build_s") + med("exec_s")}
    # per-call detail: medians over timed passes, Spark totals from the log
    detail = []
    for name in dict.fromkeys(r["name"] for r in timed):
        rs = [r for r in timed if r["name"] == name]
        ev: dict[str, float] = {}
        for desc, tot in events.items():
            parts = desc.split(":")
            if len(parts) == 4 and parts[2] == name and parts[1] != "-1":
                for k, v in tot.items():
                    ev[k] = ev.get(k, 0.0) + v / len(rs)
                if parts[3] == "build":
                    ev["eager_jobs"] = ev.get("eager_jobs", 0) + tot.get("jobs", 0) / len(rs)
        row = {"name": name, "rows_out": rows_out.get(name, 0)}
        for k in ("build_s", "exec_s", "plan_s", "persisted_rdds_after", "cached_bytes_after",
                  "bytes_written", "files_written"):
            if k in rs[0]:
                row[k] = _median([r[k] for r in rs])
        row.update({k: ev[k] for k in ("jobs", "eager_jobs", "py_worker_s", "executor_run_s",
                                       "shuffle_write_bytes", "rows_produced") if k in ev})
        if row["rows_out"]:
            row["rows_per_output_row"] = ev.get("rows_produced", 0.0) / row["rows_out"]
        detail.append(row)
    return m, detail


def run_one(args) -> int:
    from tracing import RssSampler, process_start_epoch

    proc_start = process_start_epoch()
    rss = RssSampler().start()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run writes stays under perfbench/ (scratch, temp, package zip)
    os.environ.update({"TMPDIR": os.path.join(work, "tmp"), "SPARK_LOCAL_DIRS_OVERRIDE": os.path.join(work, "local"),
                       "SPARK_GRAFT_CPUS": str(cpus), "PYSPARK_PYTHON": sys.executable})
    tempfile.tempdir = None
    sys.path.insert(1, ROOT)
    try:
        return measure(args, cpus, work, proc_start, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, cpus: int, work: str, proc_start: float, rss) -> int:
    """The run itself: session, setup, check pass, timed passes, report."""
    from osmflat_rs_spark.session import get_spark
    from workloads import WORKLOADS

    w = WORKLOADS[args.workload]()
    b = Bench(args.seed, bool(args.trace), cpus, work)
    b.spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
                        extra_conf=host_settings(cpus, work, b.trace))
    keys = ("spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory", "spark.memory.offHeap.size",
            "spark.local.dir", "spark.sql.adaptive.enabled", "spark.eventLog.enabled")
    conf = dict(b.spark.sparkContext.getConf().getAll())
    b.notes["confs"] = {k: conf.get(k, b.spark.conf.get(k, None)) for k in keys}
    pass_s: list[float] = []
    try:
        w.setup(b)
        rss.reset()  # input generation is not the workload's memory
        b.run_pass(w)  # check pass: verifies outputs, warms codegen and Python workers
        setup_s = time.time() - proc_start - b.cache.gen_s - getattr(w, "check_s", 0.0)
        t0 = time.perf_counter()
        while True:
            b.pass_idx += 1
            dt = b.run_pass(w)
            if dt is not None:
                pass_s.append(dt)
            if time.perf_counter() - t0 >= args.seconds:
                break
    finally:
        stop_spark(b.spark)
        peak = rss.stop()

    lat = [r["build_s"] + r["exec_s"] for r in b.records if r["pass"] >= 0]
    wall = _median(pass_s)
    e2e = {"setup_s": setup_s, "wall_s": wall, "docs_per_s": w.docs / wall if wall else 0.0,
           "peak_rss_gb": peak / (1 << 30)}
    # a pass makes few calls, so per-call percentiles stay in the report
    latency = {"samples": len(lat), "p50_s": _percentile(lat, 50), "p90_s": _percentile(lat, 90)}
    detail: list[dict] = []
    if b.trace:
        from tracing import parse_event_log

        metrics, detail = layer_metrics(b, parse_event_log(os.path.join(work, "eventlog")), pass_s)
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END

    os.makedirs(OUT, exist_ok=True)
    report = {"workload": w.name, "seed": args.seed, "trace": args.trace, "passes": pass_s,
              "gen_s": b.cache.gen_s, "check_s": getattr(w, "check_s", 0.0), "docs": w.docs,
              "call_latency": latency, "end_to_end": e2e, "metrics": metrics, "calls": detail,
              "failures": b.failures, "notes": b.notes, "spans": b.tracer.with_self_time()}
    with open(os.path.join(OUT, f"{w.name}-s{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    print(f"# {w.name} seed={args.seed} trace={args.trace} passes={len(pass_s)} docs={w.docs} "
          f"gen_s={b.cache.gen_s:.2f} call_p50_s={latency['p50_s']:.3f} call_p90_s={latency['p90_s']:.3f} "
          f"over {len(lat)} calls ({len(lat) - int(0.9 * len(lat))} beyond p90) "
          f"confs={json.dumps(b.notes['confs'])}" + (f" backend={b.notes['catalog_backend']}" if "catalog_backend" in b.notes else ""))
    for row in detail:
        print("#   " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}" for k, v in row.items()))
    for name, v in metrics.items():
        print(f"{w.name} {name} {v:.6g} {units[name]}")
    for fail in b.failures:
        print(f"# FAILED {fail}")
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    from workloads import WORKLOADS

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            sys.stdout.write("\n".join(lines[:-1]) + "\n")
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stderr)
                return p.returncode or 1
            res[trace] = json.loads(lines[-1])
            total["correct"] &= res[trace]["correct"]
            total["attempted"] += res[trace]["attempted"]
            total["failed"] += res[trace]["failed"]
        wall = res[0]["metrics"]["wall_s"]["value"]
        traced = res[1]["metrics"]
        overhead = traced["trace.wall_s"]["value"] - wall
        calls = traced["trace.calls_s"]["value"]
        print(f"{name} failed_frac {res[0]['failed'] / res[0]['attempted']:.4g} ratio")
        print(f"{name} trace_overhead_s {overhead:.4g} s ({overhead / wall:+.1%} of untraced wall_s)")
        print(f"{name} traced_calls_over_untraced_wall {calls / wall:.4g} ratio")
        for k, v in {**res[0]["metrics"], **traced}.items():
            total["metrics"][f"{name}.{k}"] = v
        total["metrics"][f"{name}.trace_overhead_s"] = {"value": overhead, "unit": "s"}
    print(json.dumps(total))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in ("osmflat_rs_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found next to perfbench/; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {list(WORKLOADS)} or all", file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
