#!/usr/bin/env python3
"""Benchmark of the Spark engine: ``llmdata`` and ``medallion``.

    python3 perfbench/run.py --workload llmdata --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. One process drives Spark
``local[<cores>]`` as a single client in a closed loop: the next op starts
when the previous one returns. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs one untraced and one traced pass and prints the
per-layer metrics. The last line of stdout is the result JSON; the full
record of every run goes to a new file under ``perfbench/payloads/``.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import datetime as dt  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PAYLOADS = os.path.join(HERE, "payloads")
CORES = len(os.sched_getaffinity(0))
#: Nominal seconds of one pass at 4 cores. A run makes
#: ``ceil(seconds / nominal)`` passes, fixed before it starts, so a faster
#: tree does the same work in less time.
NOMINAL_PASS_S = {"llmdata": 7.0, "medallion": 20.0}
TAG_PREFIX = "pbop"

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "jvm_cpu_s": "s", "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.exec_s": "s",
    "jvm.task_run_s": "s", "jvm.gc_s": "s", "jvm.stages": "count", "jvm.tasks": "count",
    "jvm.peak_exec_mem_bytes": "B", "jvm.idle_core_s": "core-s",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_s": "s",
    "spill.memory_bytes": "B", "spill.disk_bytes": "B",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B",
    "arrow.worker_start_s": "s", "arrow.worker_init_s": "s", "arrow.worker_run_s": "s",
    "pyworker.cpu_s": "s", "checkpoints.residue_rdds": "count",
    "sources.read_s": "s", "sources.input_bytes": "B",
    "runner.model_s": "s", "runner.checks_s": "s",
    "store.overwrite_s": "s", "store.append_s": "s", "store.read_s": "s",
    "store.bytes_written": "B", "store.versions_live": "count",
    "store.rows_rewritten_per_input_row": "ratio",
    "stream.trigger_s": "s", "stream.add_batch_s": "s", "stream.planning_s": "s",
    "stream.wal_commit_s": "s",
    "trace.overhead_s": "s",
    "py_cpu_s": "s", "fail_rate": "ratio", "rows_per_s": "1/s",
    "store_bytes_per_input_byte": "ratio",
}
#: Figures a medallion pass accumulates; the store and stream ones stay 0
#: on llmdata, which never writes.
PASS_STATS = (
    "sources.read_s", "sources.input_bytes", "runner.model_s", "runner.checks_s",
    "store.overwrite_s", "store.append_s", "store.read_s", "store.bytes_written",
    "store.rows_written", "stream.trigger_s", "stream.add_batch_s", "stream.planning_s",
    "stream.wal_commit_s", "rows_merged",
)


def _commit() -> tuple[str | None, str | None]:
    """(commit, reason it is unknown)."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired) as exc:
        return None, f"git unavailable: {exc}"
    lines = out.stdout.splitlines()
    if out.returncode != 0 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None, "not a git checkout"
    return lines[1], None


def _spark_conf() -> dict[str, str]:
    return {
        # the status REST API feeds jvm_cpu_s and every traced JVM figure;
        # retention must outlast a run so no stage is evicted before it is read
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
    }


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.failures: list[str] = []
        self.attempted = 0
        self.errors: dict[str, str] = {}
        self.spark = None
        self.gateway_proc = None

    # -- set-up ----------------------------------------------------------

    def setup(self) -> dict:
        """From process start, so it includes the imports and the JVM
        launch: start the session and warm it up."""
        from logistics_data_pipeline_project_spark.session import get_spark
        from pyspark import SparkContext

        from catalog import DATA_DIR

        spark = get_spark(app_name="perfbench", extra_conf=_spark_conf())
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.gateway_proc = getattr(SparkContext._gateway, "proc", None)
        t_up = time.perf_counter()
        # codegen and the parquet reader; each op's own first-run cost
        # is paid by the untimed gate
        spark.range(1_000_000).agg({"id": "sum"}).collect()
        spark.read.parquet(os.path.join(DATA_DIR, "documents.parquet")).groupBy(
            "source").count().collect()
        t_end = time.perf_counter()
        return {"start_s": t_up - T_PROCESS, "warmup_s": t_end - t_up,
                "setup_s": t_end - T_PROCESS}

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is not None:
            self.spark.stop()
        proc = self.gateway_proc
        if proc is not None and proc.poll() is None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def attribute(self, tags: list[str], build_tag: str | None, attrib) -> dict:
        """The op's JVM, shuffle, spill and Arrow figures; an empty row,
        with the reason kept, once the status API has failed."""
        from probes import ProbeError

        if attrib is None:
            return {}
        try:
            return attrib.collect(tags, build_tag)
        except ProbeError as exc:
            self.errors.setdefault("jvm", str(exc))
            return {}

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"# FAILED {what}", file=sys.stderr)

    # -- probes ----------------------------------------------------------

    def e2e_probes(self):
        import bench

        from measure import RssSampler

        cpu, py = bench._CpuProbe(self.spark), bench._PyCpuProbe()
        cpu.delta()  # drain set-up and gate stages
        py.delta()
        pid = self.gateway_proc.pid if self.gateway_proc is not None else None
        return cpu, py, RssSampler(pid)

    def e2e_figures(self, cpu, py, rss) -> dict:
        d, p = cpu.delta(), py.delta()
        out = {
            "jvm_cpu_s": None if d is None else d["cpu_ns"] / 1e9,
            "py_cpu_s": p,
            "peak_rss_mb": None if rss.error or rss.peak_mb <= 0 else rss.peak_mb,
        }
        for name, err in (("jvm_cpu_s", cpu.error), ("py_cpu_s", py.error),
                          ("peak_rss_mb", rss.error or "no /proc sample taken")):
            if out[name] is None:
                self.errors[name] = err
        return out


# -- llmdata -----------------------------------------------------------------


class Catalog:
    def __init__(self, bench: Bench) -> None:
        from catalog import OPS

        self.b = bench
        self.ops = list(OPS)
        random.Random(bench.args.seed).shuffle(self.ops)

    def gate(self) -> None:
        """Untimed: every op's collected result against its fingerprint.
        This also pays each op's first-run cost."""
        from catalog import DATA_DIR, check, fingerprint, load_fingerprints
        from logistics_data_pipeline_project_spark.operators.checkpoints import (
            persistent_rdd_ids, release_residual_checkpoints)
        from logistics_data_pipeline_project_spark.queries import REGISTRY

        want = load_fingerprints()
        spark = self.b.spark
        self.baseline = persistent_rdd_ids(spark)
        for op in self.ops:
            self.b.attempted += 1
            try:
                df = REGISTRY[op].fn(spark, DATA_DIR)
                got = fingerprint(df.columns, [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
                self.b.fail(f"{op}: {traceback.format_exc(limit=3)}")
                continue
            finally:
                release_residual_checkpoints(spark, self.baseline)
            why = check(want[op], got) if op in want else "no pinned fingerprint"
            if why is not None:
                self.b.fail(f"{op}: {why}")

    def after_window(self) -> None:
        """Nothing to check: the gate already compared every op's result."""

    def run_pass(self, lat: list[float], tracer=None, attrib=None, layers=None, py=None) -> float:
        from catalog import DATA_DIR
        from logistics_data_pipeline_project_spark.operators.checkpoints import (
            release_residual_checkpoints)
        from logistics_data_pipeline_project_spark.queries import REGISTRY

        from measure import idle_core_s

        spark = self.b.spark
        t_pass = time.perf_counter()
        for i, op in enumerate(self.ops):
            self.b.attempted += 1
            build_tag, exec_tag = f"{TAG_PREFIX}-{i}-build", f"{TAG_PREFIX}-{i}-exec"
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    REGISTRY[op].fn(spark, DATA_DIR).write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span("op", op=op):
                        spark.addTag(build_tag)
                        with tracer.span("queries.build") as build:
                            df = REGISTRY[op].fn(spark, DATA_DIR)
                        spark.removeTag(build_tag)
                        spark.addTag(exec_tag)
                        with tracer.span("queries.exec") as run:
                            df.write.format("noop").mode("overwrite").save()
                        spark.removeTag(exec_tag)
            except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
                self.b.fail(f"{op}: {traceback.format_exc(limit=3)}")
                spark.clearTags()
                release_residual_checkpoints(spark, self.baseline)
                continue
            wall = time.perf_counter() - t0
            lat.append(wall)
            if tracer is None:
                release_residual_checkpoints(spark, self.baseline)
                continue
            row = self.b.attribute([build_tag, exec_tag], build_tag, attrib)
            row.update({"op": op, "wall_s": wall, "queries.build_s": build.duration,
                        "queries.exec_s": run.duration, "pyworker.cpu_s": py.delta()})
            row["jvm.idle_core_s"] = idle_core_s(CORES, wall, row.get("jvm.task_run_s", 0.0))
            with tracer.span("checkpoints.release"):
                row["checkpoints.residue_rdds"] = len(
                    release_residual_checkpoints(spark, self.baseline))
            layers.append(row)
        return time.perf_counter() - t_pass


# -- medallion ---------------------------------------------------------------


class Medallion:
    #: Merge batches per pass.
    BATCHES_PER_PASS = 3
    #: Untimed batches before them: the bootstrap batch, which creates the
    #: target, and the first merge into it.
    WARM_BATCHES = 2

    def __init__(self, bench: Bench, passes: int) -> None:
        import medallion

        self.m = medallion
        self.b = bench
        self.ops = list(range(self.BATCHES_PER_PASS))
        batches = medallion.generate_batches(bench.args.seed,
                                             self.WARM_BATCHES + passes * len(self.ops))
        self.pipe = medallion.Pipeline(bench.spark, os.path.join(WORK, "medallion"), batches,
                                       PASS_STATS)
        self.last: dict = {}

    def gate(self) -> None:
        """Untimed: the warm batches, which compile every plan shape the
        timed batches run (without the first merge batch, op latencies fell
        5-25% from the first timed batch to the next). The outputs are
        checked after the window."""
        for _ in range(self.WARM_BATCHES):
            self.pipe.run_batch()

    def run_pass(self, lat, tracer=None, attrib=None, layers=None, py=None) -> float:
        from measure import Tracer, idle_core_s

        pipe = self.pipe
        pipe.begin(tracer or Tracer(enabled=False))
        t_pass = time.perf_counter()
        for _ in self.ops:
            self.b.attempted += 1
            b = pipe.done
            tag = f"{TAG_PREFIX}-{b}-batch"
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    pipe.run_batch()
                else:
                    self.b.spark.addTag(tag)
                    with tracer.span("op", op=f"batch{b}"):
                        pipe.run_batch()
                    self.b.spark.removeTag(tag)
            except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
                self.b.fail(f"batch {b}: {traceback.format_exc(limit=3)}")
                self.b.spark.clearTags()
                continue
            wall = time.perf_counter() - t0
            lat.append(wall)
            if tracer is not None:
                row = self.b.attribute([tag], None, attrib)
                row.update({"op": f"batch{b}", "wall_s": wall, "pyworker.cpu_s": py.delta()})
                row["jvm.idle_core_s"] = idle_core_s(CORES, wall, row.get("jvm.task_run_s", 0.0))
                layers.append(row)
        wall = time.perf_counter() - t_pass
        self.last = {
            "stats": dict(pipe.stats),
            "landed_bytes": pipe.landed_bytes,
            "warehouse_bytes": self.m.warehouse_bytes(pipe.store.warehouse_dir),
            "versions_live": pipe.versions_live(),
            "op_s": sum(lat[-len(self.ops):]),
        }
        return wall

    def after_window(self) -> None:
        """Final fact, streamed target and gold marts against DuckDB,
        computed from every batch landed so far."""
        self.b.attempted += 1
        pipe = self.pipe
        want = self.m.reference(pipe.batches[:pipe.done])
        for why in self.m.compare(pipe.outputs(), want):
            self.b.fail(f"medallion seed {self.b.args.seed}: {why}")


# -- the run -------------------------------------------------------------------


def _loadavg() -> list[float] | None:
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def _timed(b: Bench, wl, passes: int) -> dict:
    """``passes`` whole passes over the workload's ops, tracing off."""
    t_probe = time.perf_counter()
    cpu, py, rss = b.e2e_probes()
    lat: list[float] = []
    walls: list[float] = []
    pass_figs: list[dict] = []
    with rss:
        t0 = time.perf_counter()
        for _ in range(passes):
            walls.append(wl.run_pass(lat))
            if isinstance(wl, Medallion):
                pass_figs.append(dict(wl.last))
    window = time.perf_counter() - t0
    figures = b.e2e_figures(cpu, py, rss)
    t_check = time.perf_counter()
    wl.after_window()
    out = {"window_s": window, "probe_start_s": t0 - t_probe,
           "probe_end_s": t_check - t0 - window, "check_s": time.perf_counter() - t_check,
           "passes": walls, "latencies": lat, **figures}
    if pass_figs:
        out["rows_per_s"] = sum(f["stats"]["rows_merged"] for f in pass_figs) / sum(
            f["op_s"] for f in pass_figs)
        out["store_bytes_per_input_byte"] = statistics.median(
            f["warehouse_bytes"] / f["landed_bytes"] for f in pass_figs)
    return out


def _traced(b: Bench, wl) -> dict:
    import bench

    from measure import Tracer, self_times
    from probes import OpAttribution, ProbeError, SparkRest

    tracer = Tracer()
    py = bench._PyCpuProbe()
    try:
        attrib = OpAttribution(SparkRest(b.spark), TAG_PREFIX)
    except ProbeError as exc:
        b.errors["jvm"] = str(exc)
        attrib = None
    py.delta()
    layers: list[dict] = []
    lat: list[float] = []
    wall = wl.run_pass(lat, tracer=tracer, attrib=attrib, layers=layers, py=py)
    wl.after_window()
    out = {"wall_s": wall, "latencies": lat, "ops": layers,
           "spans": [vars(s) for s in tracer.spans],
           "self_s": self_times(tracer.spans)}
    if isinstance(wl, Medallion):
        out["medallion"] = wl.last
    return out


#: Per-layer figures that come from the status API, by metric prefix.
_REST_LAYERS = ("jvm.", "shuffle.", "spill.", "arrow.", "queries.build_jobs")


def _per_layer(b: Bench, setup: dict, untraced: dict, traced: dict, failed: int) -> dict:
    rows = traced["ops"]
    vals: dict[str, float | None] = {
        "session.start_s": setup["start_s"], "session.warmup_s": setup["warmup_s"],
        "trace.overhead_s": traced["wall_s"] - untraced["passes"][0],
        "py_cpu_s": untraced["py_cpu_s"], "fail_rate": failed / b.attempted,
        "rows_per_s": untraced.get("rows_per_s", 0.0),
        "store_bytes_per_input_byte": untraced.get("store_bytes_per_input_byte", 0.0),
    }
    med = traced.get("medallion")
    stats = med["stats"] if med else dict.fromkeys(PASS_STATS, 0.0)
    vals.update({k: stats[k] for k in PASS_STATS if k in PER_LAYER})
    vals["store.versions_live"] = med["versions_live"] if med else 0
    vals["store.rows_rewritten_per_input_row"] = (
        stats["store.rows_written"] / stats["rows_merged"] if med else 0.0)
    for k in PER_LAYER:
        if k in vals:
            continue
        per_op = [r.get(k) for r in rows]
        if k.startswith(_REST_LAYERS) and "jvm" in b.errors:
            vals[k] = None
            b.errors[k] = b.errors["jvm"]
        elif k == "pyworker.cpu_s" and None in per_op:
            vals[k] = None
            b.errors[k] = "python-worker /proc probe failed"
        elif k == "jvm.peak_exec_mem_bytes":
            vals[k] = max(per_op, default=0)
        else:
            vals[k] = sum(v or 0.0 for v in per_op)
    return vals


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(NOMINAL_PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "bench.py"))
            and os.path.isdir(os.path.join(ROOT, "logistics_data_pipeline_project_spark"))):
        print("perfbench: bench.py and the engine package must sit beside perfbench/",
              file=sys.stderr)
        return 2
    # before the engine is imported: its session module reads the core count
    # at import, and every date the benchmark compares is UTC
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TZ"] = "UTC"
    time.tzset()
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts (spark-submit's launcher too): temp files
    # inside the checkout, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    sys.path.insert(0, ROOT)

    commit, commit_why = _commit()
    payload = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit, "commit_unknown_reason": commit_why,
        "cpus": CORES, "loadavg_before": _loadavg(),
        "started_utc": dt.datetime.now(dt.timezone.utc).isoformat(),
    }
    b = Bench(args)
    phases = payload["phases_s"] = {}

    def mark(name: str) -> None:
        phases[name] = time.perf_counter() - T_PROCESS

    try:
        payload["setup"] = setup = b.setup()
        mark("setup")
        passes = (1 if args.trace
                  else max(1, math.ceil(args.seconds / NOMINAL_PASS_S[args.workload])))
        wl = (Medallion(b, passes + args.trace) if args.workload == "medallion"
              else Catalog(b))
        wl.gate()
        mark("gate")
        untimed_ok = not b.failures
        payload["untraced"] = untraced = _timed(b, wl, passes)
        mark("untraced")
        if args.trace:
            payload["traced"] = traced = _traced(b, wl)
            mark("traced")
    finally:
        b.close()
    mark("close")
    payload["loadavg_after"] = _loadavg()
    payload["failures"] = b.failures
    payload["gate_passed"] = untimed_ok
    failed = min(len(b.failures), b.attempted)

    lat = untraced["latencies"]
    if args.trace:
        values = _per_layer(b, setup, untraced, traced, failed)
        units = PER_LAYER
    else:
        from measure import latency_summary

        ls = latency_summary(lat) if lat else None
        payload["latency"] = ls
        values = {
            "setup_s": setup["setup_s"],
            "wall_s": statistics.median(untraced["passes"]),
            "latency_p50_s": ls and ls["p50"],
            "latency_tail_s": ls and ls["tail"],
            "jvm_cpu_s": untraced["jvm_cpu_s"],
            "peak_rss_mb": untraced["peak_rss_mb"],
        }
        units = END_TO_END
        payload["extra"] = {
            "py_cpu_s": untraced["py_cpu_s"], "fail_rate": failed / b.attempted,
            "rows_per_s": untraced.get("rows_per_s"),
            "store_bytes_per_input_byte": untraced.get("store_bytes_per_input_byte"),
        }
    metrics = {}
    for k, unit in units.items():
        m = {"value": values.get(k), "unit": unit}
        if m["value"] is None:
            m["reason"] = b.errors.get(k, "not collected")
        metrics[k] = m
    result = {"correct": not b.failures, "attempted": b.attempted, "failed": failed,
              "metrics": metrics}
    payload["result"] = result
    os.makedirs(PAYLOADS, exist_ok=True)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"
    path = os.path.join(PAYLOADS, name)
    with open(path, "x") as f:  # "x": a payload is never overwritten
        json.dump(payload, f, indent=1, default=str)
    print(f"# payload: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    missing = [k for k, m in metrics.items() if m["value"] is None]
    if missing and not args.trace:
        print(f"perfbench: end-to-end metrics not collected: {missing}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
