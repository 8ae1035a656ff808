"""Benchmark of the tectonic readers, writers and operators.

    python3 perfbench/run.py --workload json_bigfile --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` (cached under
   ``.perfbench_cache/`` in the repository root), with their expected answers;
2. sets up the Spark session again and again -- start it
   (``local[<cores>]``), register the tectonic sources, plan the first
   query, stop it -- until SETUP_WARM_S seconds of warm set-ups and at least
   SETUP_WARM_MIN of them are done; the first set-up also launches the JVM
   and is reported apart;
3. runs the workload's query list untimed WARMUP_PASSES times; the first is
   the verification pass;
4. runs the list again and again, one query at a time (a closed loop with
   one client), until ``--seconds`` have passed and at least two timed
   passes are done, checking every answer; a fixed calibration loop runs
   on every core before the first timed pass and after each one.

``--trace 0`` prints the end-to-end metrics (medians over the warm set-ups
and the passes). ``--trace 1`` alternates untraced and traced passes, probes the
``core`` and ``sources`` layers directly, and prints the per-layer metrics;
its spans are written to ``.perfbench_cache/spans-<workload>-<seed>.json``.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it gives every
metric with its unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
from pathlib import Path

from gen import ensure_inputs, roundtrip_sql
from probes import (
    calibrate,
    core_probe,
    cpu_seconds,
    descendants,
    drive_reader,
    drive_writer,
    exec_metrics,
    infer_seconds,
    phases_ms,
    plan_nodes,
)
from spans import Tracer, span_cost
from workloads import WORKLOADS, Ctx

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
# set-ups after the first, which also launches the JVM
SETUP_WARM_S = 2.0
SETUP_WARM_MIN = 2
# untimed passes; more would steady the timed ones, but a whole evaluation
# of the benchmark (4 + 22 x 2 runs) must fit in 3,420 s
WARMUP_PASSES = 1
MIN_PASSES = 2
PROBE_SAMPLE_BYTES = 1 << 20
PROBE_READ_BYTES = 4 << 20  # single-threaded reader probes stop after this much input
WRITE_PROBE_ROWS = 50_000
# the metrics of the last output line, as BENCHMARK.json lists them; the
# line before it carries these and every other measured metric
END_TO_END = ("setup_s", "pass_cpu_rel")
PER_LAYER = (
    "session.start_s",
    "session.register_ms",
    "core.json_event_mb_per_s",
    "core.json_skip_mb_per_s",
    "core.skipped_byte_frac",
    "sources.infer_ms",
    "sources.splits",
    "sources.read_mb_per_s_core",
    "sources.arrow_bytes_per_input_byte",
    "sources.python_cpu_s",
    "planning.analysis_ms",
    "planning.optimization_ms",
    "planning.planning_ms",
    "exec.jvm_cpu_s",
    "exec.scan_rows_out",
    "exec.shuffle_bytes",
    "exec.peak_memory_bytes",
    "operators.builder_s",
    "operators.exec_s",
    "trace.planning_self_s",
    "trace.exec_self_s",
    "trace.bench_self_s",
    "trace.trace_self_s",
    "trace.overhead_s",
)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One run of one workload: the set-ups, the passes and their metrics."""

    def __init__(self, workload, inp: Path, exp: dict, seed: int, seconds: float, trace: bool):
        self.wl = workload
        self.inp, self.exp, self.seed = inp, exp, seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.spark = None
        self.ctx = None
        self.jvm_pid = 0
        self.attempted = self.failed = 0
        self.setups: list[dict] = []
        self.passes: list[dict] = []

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        from tectonic_spark.session import get_spark
        from tectonic_spark.sources import register_tectonic_sources

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(CACHE / "spark-local"),
            "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
        }
        tr = self.tracer
        warm_end = None
        while len(self.setups) < 1 + SETUP_WARM_MIN or time.perf_counter() < warm_end:
            if self.spark is not None:
                self.spark.stop()
            with tr.span("setup", "bench") as root:
                t0 = time.perf_counter()
                with tr.span("start", "session"):
                    spark = get_spark(app_name="perfbench", cpus=_cores(), extra_conf=conf)
                t1 = time.perf_counter()
                with tr.span("register", "session"):
                    register_tectonic_sources(spark)
                t2 = time.perf_counter()
                ctx = Ctx(spark, self.inp, self.exp, self.seed, tr)
                with tr.span("first_plan", "planning"):
                    self.wl.first_plan(ctx)._jdf.queryExecution().executedPlan()
                t3 = time.perf_counter()
            self.setups.append({"start": t1 - t0, "register": t2 - t1, "total": t3 - t0, "root": root})
            self.spark = spark
            if warm_end is None:
                warm_end = time.perf_counter() + SETUP_WARM_S
        _log("set-ups: " + ", ".join(f"{u['total']:.3f}s" for u in self.setups))
        self.ctx = ctx
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    # ----------------------------------------------------------- queries

    def _query(self, q, traced: bool) -> dict | None:
        c0 = cpu_seconds(self.jvm_pid)
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            with self.tracer.span(q.metric, "bench") as span:
                ans, df = q.run(self.ctx)
            wall = time.perf_counter() - t0
            c1 = cpu_seconds(self.jvm_pid)
            err = q.check(self.ctx, ans)
        except Exception as e:  # noqa: BLE001 - a failed query is counted, the run goes on
            err = f"{type(e).__name__}: {e}"
        if err is not None:
            self.failed += 1
            _log(f"FAIL {q.metric}: {err[:2000]}")
            return None
        rec = {
            "metric": q.metric,
            "wall": wall,
            "jvm_cpu": c1[0] - c0[0],
            "py_cpu": c1[1] - c0[1],
            "span": span,
        }
        if traced:
            # a write has no DataFrame of its own to read metrics from
            with self.tracer.span("metrics", "trace"):
                qe = df._jdf.queryExecution() if df is not None else None
                rec["phases"] = phases_ms(qe) if qe is not None else {}
                rec["exec"] = exec_metrics(plan_nodes(qe) if qe is not None else [])
        rec["df"] = df
        return rec

    def _pass(self, traced: bool) -> dict:
        self.tracer.enabled = traced
        t0 = time.perf_counter()
        with self.tracer.span("pass", "bench") as root:
            recs = [self._query(q, traced) for q in self.wl.queries]
        p = {"wall": time.perf_counter() - t0, "traced": traced, "root": root, "queries": recs}
        _log(f"pass: {p['wall']:.3f}s")
        self.tracer.enabled = self.trace
        return p

    def measure(self) -> None:
        for _ in range(WARMUP_PASSES):  # untimed; the first one verifies the answers
            self._pass(traced=False)
        need = MIN_PASSES  # with --trace 1: one untraced and one traced
        end = time.perf_counter() + self.seconds
        # the host's speed just before and just after each timed pass
        calib = calibrate(_cores())
        while time.perf_counter() < end or len(self.passes) < need:
            traced = self.trace and len(self.passes) % 2 == 1
            p = self._pass(traced)
            after = calibrate(_cores())
            p["calib"] = ((calib[0] + after[0]) / 2, (calib[1] + after[1]) / 2)
            calib = after
            self.passes.append(p)

    # ---------------------------------------------------------- results

    def _timed(self, traced: bool) -> list[dict]:
        return [p for p in self.passes if p["traced"] == traced]

    @staticmethod
    def _per_pass(passes: list[dict], fn) -> list[float]:
        return [sum(fn(r) for r in p["queries"] if r is not None) for p in passes]

    def end_to_end(self) -> dict:
        """{name: (value, unit, samples)} over the untraced timed passes.
        ``*_rel`` divide each pass by the calibration loop's time around it
        (wall by wall, CPU by CPU), so they follow the program rather than
        the host's speed at the time of the run."""
        ps = self._timed(False)
        n = len(ps)
        cpu = self._per_pass(ps, lambda r: r["jvm_cpu"] + r["py_cpu"])
        out = {
            "setup_s": (_median([s["total"] for s in self.setups[1:]]), "s", len(self.setups) - 1),
            "pass_s": (_median([p["wall"] for p in ps]), "s", n),
            "pass_rel": (_median([p["wall"] / p["calib"][0] for p in ps]), "ratio", n),
            "pass_cpu_s": (_median(cpu), "s", n),
            "pass_cpu_rel": (_median([c / p["calib"][1] for c, p in zip(cpu, ps)]), "ratio", n),
            "error_rate": (self.failed / max(1, self.attempted), "ratio", self.attempted),
        }
        for q in self.wl.queries:
            xs = [r["wall"] for p in ps for r in p["queries"] if r is not None and r["metric"] == q.metric]
            out[q.metric] = (_median(xs), "s", len(xs))
        return out

    def per_layer(self) -> dict:
        """{name: (value, unit, samples)} from the traced passes, the set-ups
        and the direct layer probes."""
        tps = self._timed(True)
        n = len(tps)
        cost = span_cost()
        setups = self.setups[1:]

        def med(fn, unit):
            return (_median(self._per_pass(tps, fn)), unit, n)

        def phase(key):
            return med(lambda r: r["phases"].get(key, 0.0), "ms")

        def ex(key):
            return med(lambda r: r["exec"][key], "bytes" if "bytes" in key else "count")

        def in_operator(layer):
            """Self time in ``layer`` of the queries that call an operator builder."""
            def fn(r):
                st = self.tracer.self_times(r["span"])
                return st.get(layer, 0.0) if "operators" in st else 0.0

            return med(fn, "s")

        selfs = [self.tracer.self_times(p["root"]) for p in tps]
        out = {
            "session.start_s": (_median([s["start"] for s in setups]), "s", len(setups)),
            "session.register_ms": (_median([s["register"] for s in setups]) * 1e3, "ms", len(setups)),
            "sources.python_cpu_s": med(lambda r: r["py_cpu"], "s"),
            "exec.jvm_cpu_s": med(lambda r: r["jvm_cpu"], "s"),
            "planning.analysis_ms": phase("analysis"),
            "planning.optimization_ms": phase("optimization"),
            "planning.planning_ms": phase("planning"),
            "exec.scan_rows_out": ex("scan_rows_out"),
            "exec.shuffle_bytes": ex("shuffle_bytes"),
            "exec.peak_memory_bytes": (
                _median([max((r["exec"]["peak_memory_bytes"] for r in p["queries"] if r), default=0) for p in tps]),
                "bytes",
                n,
            ),
            "operators.builder_s": in_operator("operators"),
            "operators.exec_s": in_operator("exec"),
            "trace.overhead_s": (_median([self.tracer.overhead(p["root"], cost) for p in tps]), "s", n),
        }
        for layer in ("planning", "exec", "bench", "trace"):
            out[f"trace.{layer}_self_s"] = (_median([s.get(layer, 0.0) for s in selfs]), "s", n)
        out.update(self.probe_layers())
        return out

    # ------------------------------------------------------------ probes

    def _json_sample(self, files: list[Path]) -> bytes:
        """Up to PROBE_SAMPLE_BYTES of well-formed lines from ``files``."""
        out, size = [], 0
        for f in files:
            for line in f.read_bytes().splitlines():
                try:
                    json.loads(line)
                except ValueError:
                    continue
                out.append(line)
                size += len(line) + 1
                if size >= PROBE_SAMPLE_BYTES:
                    return b"\n".join(out) + b"\n"
        return b"\n".join(out) + b"\n"

    def _reader(self, scan):
        from tectonic_spark.sources.csv_source import TectonicCsvPushdownDataSource
        from tectonic_spark.sources.json_source import TectonicJsonPushdownDataSource

        src = {"tectonic-json": TectonicJsonPushdownDataSource, "tectonic-csv": TectonicCsvPushdownDataSource}
        ds = src[scan.fmt](dict(scan.options, path=str(self.inp / scan.path)))
        return ds.reader(self.spark.createDataFrame([], scan.ddl).schema if scan.ddl else ds.schema())

    def probe_layers(self) -> dict:
        """Single-threaded calls into ``core`` and ``sources`` on this
        workload's inputs. Layers the workload does not use report 0."""
        from pyspark.sql.datasource import EqualTo

        from tectonic_spark.sources.json_source import TectonicJsonPushdownDataSource

        out = {
            k: (0.0, u, 0)
            for k, u in [
                ("core.json_event_mb_per_s", "MB/s"),
                ("core.json_skip_mb_per_s", "MB/s"),
                ("core.skipped_byte_frac", "ratio"),
                ("sources.infer_ms", "ms"),
                ("sources.splits", "count"),
                ("sources.read_mb_per_s_core", "MB/s"),
                ("sources.rows_out_per_match", "ratio"),
                ("sources.arrow_bytes_per_input_byte", "ratio"),
                ("sources.write_mb_per_s", "MB/s"),
            ]
        }
        pr, tr = self.wl.probes, self.tracer
        if pr is None:
            return out
        json_path = self.inp / pr.json_path
        files = sorted(json_path.glob("part-*")) if json_path.is_dir() else [json_path]
        sample = self._json_sample(files)
        with tr.span("json_event_all_columns", "core"):
            t_all, _ = core_probe(sample, None)
        with tr.span("json_event_projection", "core"):
            t_proj, skipped = core_probe(sample, {"id", "k"})
        out["core.json_event_mb_per_s"] = (len(sample) / 1e6 / t_all, "MB/s", 1)
        out["core.json_skip_mb_per_s"] = (len(sample) / 1e6 / t_proj, "MB/s", 1)
        out["core.skipped_byte_frac"] = (skipped / len(sample), "ratio", 1)

        infer = []
        for _ in range(3):
            with tr.span("infer", "sources"):
                infer.append(infer_seconds(TectonicJsonPushdownDataSource, {"path": str(json_path)}))
        out["sources.infer_ms"] = (_median(infer) * 1e3, "ms", len(infer))

        with tr.span("read_full", "sources"):
            secs, splits, size, _, _ = drive_reader(self._reader(pr.full), PROBE_READ_BYTES)
        out["sources.splits"] = (float(splits), "count", 1)
        out["sources.read_mb_per_s_core"] = (size / 1e6 / secs, "MB/s", 1)
        with tr.span("read_projection", "sources"):
            _, _, size, _, nbytes = drive_reader(self._reader(pr.projection), PROBE_READ_BYTES)
        out["sources.arrow_bytes_per_input_byte"] = (nbytes / size, "ratio", 1)
        if pr.pushdown is not None:
            scan, k = pr.pushdown
            with tr.span("read_pushdown", "sources"):
                _, _, _, rows, _ = drive_reader(self._reader(scan), 1 << 62, [EqualTo(("k",), k)])
            out["sources.rows_out_per_match"] = (rows / self.exp["k3_rows"], "ratio", 1)
        if pr.writes:
            out["sources.write_mb_per_s"] = (self._write_probe(), "MB/s", 1)
        return out

    def _write_probe(self) -> float:
        from tectonic_spark.sources.writers import TectonicCsvWriter, TectonicJsonWriter

        table = self.spark.range(WRITE_PROBE_ROWS).selectExpr(*roundtrip_sql(self.seed)).toArrow()
        batches, cols = table.to_batches(), table.column_names
        secs = size = 0.0
        for fmt, w in [
            ("json", TectonicJsonWriter({"path": str(CACHE / "probe-json")}, True)),
            ("csv", TectonicCsvWriter({"path": str(CACHE / "probe-csv"), "header": "true"}, True, cols)),
        ]:
            with self.tracer.span(f"write_{fmt}", "sources"):
                dt, nb = drive_writer(w, batches)
            secs += dt
            size += nb
        return size / 1e6 / secs

    # ---------------------------------------------------------- shutdown

    def close(self) -> None:
        """Stop Spark, then the JVM, then wait for every process it started."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = gw.proc
        kids = descendants(proc.pid)
        try:
            self.spark.stop()
            gw.shutdown()
        finally:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - any failure to exit: kill it
                proc.kill()
                proc.wait()
            deadline = time.time() + 30
            for pid in kids:
                while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                    time.sleep(0.05)
                if os.path.exists(f"/proc/{pid}"):
                    os.kill(pid, signal.SIGKILL)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "tectonic_spark").is_dir():
        _log(f"no tectonic_spark package next to {Path(__file__).parent.name}/; run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    os.environ.setdefault("TECTONIC_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep every temporary file of Python and of both JVMs (the launcher's
    # and Spark's) inside the checkout
    (CACHE / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(CACHE / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={CACHE / 'tmp'}"

    inp, exp, gen_s = ensure_inputs(CACHE / "inputs", args.workload, args.seed)
    _log(f"inputs {inp.name}: generated in {gen_s:.2f}s")
    bench = Bench(WORKLOADS[args.workload], inp, exp, args.seed, args.seconds, bool(args.trace))
    try:
        bench.setup()
        bench.measure()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    finally:
        if args.trace:
            bench.tracer.dump(CACHE / f"spans-{args.workload}-{args.seed}.json")
        bench.close()

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host_cores": _cores(),
        "input_gen_s": gen_s,
        "first_setup_s": bench.setups[0]["total"],  # includes the JVM launch
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in metrics.items()},
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()
                    if k in (PER_LAYER if args.trace else END_TO_END)
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
