"""filesql_spark benchmark: one workload per run.

    python3 perfbench/run.py --workload files_session --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` it carries the end-to-end metrics, with ``--trace 1`` the
per-layer ones. The line before it is the run record (machine, versions,
settings, load average, input fingerprint, failures). See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import resource
import shutil
import signal
import statistics
import sys
import time

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"

# name -> unit. These lists and BENCHMARK.json must agree (tests check it).
END_TO_END = {
    "setup_s": "s",
    "prepare_s": "s",
    "op_gmean_ms": "ms",
    "pass_s": "s",
}

BUILD_NAMES = ["ivf", "pq", "dedup_base", "minhash_pairs", "components", "diversity", "bench_grams"]
SOURCE_FORMATS = ["csv", "tsv", "csv_gz", "csv_zst", "ltsv", "xlsx", "parquet"]
DML_KINDS = ["insert", "update", "delete", "upsert"]
DUMP_FORMATS = ["csv", "csv_gz", "ltsv", "parquet"]

PER_LAYER = {
    "session.start_s": "s",
    **{f"sources.open_file_ms.{f}": "ms" for f in SOURCE_FORMATS},
    "sources.jobs_per_file": "count",
    "inference.infer_ms": "ms",
    "dialect.rewrite_ms": "ms",
    "dialect.bind_ms": "ms",
    "engine.construct_ms": "ms",
    "engine.plan_chars_end": "count",
    "engine.read_after_write_ms": "ms",
    "engine.commit_ms": "ms",
    "engine.rollback_ms": "ms",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.rows_scanned_per_row_returned": "ratio",
    **{f"dml.statement_ms.{k}": "ms" for k in DML_KINDS},
    "dml.jobs_per_statement": "count",
    **{f"sinks.dump_ms.{f}": "ms" for f in DUMP_FORMATS},
    "sinks.bytes_out": "bytes",
    "sinks.tasks_per_dump": "count",
    "queries.load_table_ms": "ms",
    "queries.load_table_calls": "count",
    "queries.load_table_jobs": "count",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    **{f"pipeline.build_s.{b}": "s" for b in BUILD_NAMES},
    "pipeline.index_hit_ratio": "ratio",
    "spark.cached_bytes": "bytes",
    "driver.mem_peak_mb": "MB",
    "trace.overhead_ratio": "ratio",
    "trace.parts_ratio": "ratio",
    "trace.parts_within_10pct": "ratio",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that has at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    s = sorted(xs)
    if len(s) <= 10:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Context:
    """Run-wide state: the session, the tracer (traced mode only) and the
    per-op records the traced mode collects."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.spark = None
        self.tracer = None
        self.stats = None
        self.records: list[dict] = []
        self.plan_chars = 0
        self._n = 0

    # ------------------------------------------------------- session
    def start_session(self):
        from filesql_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def warm_session(self) -> None:
        """Engine-level warm-up: open a two-row file and run one
        parameterised SELECT through the dialect."""
        import filesql_spark as fs

        d = os.path.join(self.work, "tiny")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "tiny.csv")
        with open(path, "w") as f:
            f.write("x,y\n1,a\n2,b\n")
        eng = fs.open(path, spark=self.spark)
        eng.query("SELECT COUNT(*) AS n, group_concat(y) AS g FROM tiny WHERE x > ?", [0]).collect()
        eng.close()

    def setup(self, reps: int = 3) -> list[float]:
        """Set up ``reps`` times: the first from a cold JVM, the others
        after stopping the session. Returns each set-up's seconds."""
        out = []
        for i in range(reps):
            if i:
                self.spark.stop()
            t0 = time.perf_counter()
            self.start_session()
            self.warm_session()
            out.append(time.perf_counter() - t0)
        return out

    # ----------------------------------------------------- traced ops
    def traced_op(self, label, construct, action):
        from pyspark.sql import DataFrame

        tr, stats = self.tracer, self.stats
        self._n += 1
        op = f"{label}#{self._n}"
        tr.op, tr.enabled = op, True
        try:
            with tr.job_group(op + "/construct"), tr.span("op.construct") as c:
                handle = construct()
            with tr.job_group(op + "/action"), tr.span("op.action") as a:
                result = action(handle)
        finally:
            tr.op, tr.enabled = None, False
        stats.drain()
        rec = {
            "label": label, "op": op,
            "construct_s": c.end - c.start, "action_s": a.end - a.start,
            "construct": stats.group(op + "/construct"),
            "action": stats.group(op + "/action"),
            "rows": len(result) if isinstance(result, list) else 0,
        }
        if isinstance(handle, DataFrame):
            rec["phases"] = stats.phases(handle)
        self.records.append(rec)
        return result, rec["construct_s"], rec["action_s"]

    def span(self, name: str, traced: bool):
        """A tracer span around a benchmark step inside a traced op."""
        return self.tracer.span(name) if traced else contextlib.nullcontext()

    # --------------------------------------------------------- tracing
    def install_tracer(self) -> None:
        from tracing import SparkStats, Tracer

        tr = Tracer(self.spark)
        tr.wrap("filesql_spark.engine", "load_file", "sources.load_file",
                suffix=lambda spark, path, *_: _source_format(path))
        tr.wrap("filesql_spark.sources.csv_source", "infer_schema", "inference.infer")
        tr.wrap("filesql_spark.sources.loader", "infer_schema", "inference.infer")
        tr.wrap("filesql_spark.dialect", "rewrite", "dialect.rewrite")
        tr.wrap("filesql_spark.dialect", "bind_params", "dialect.bind")
        tr.wrap("filesql_spark.dml", "execute", "dml.execute")
        tr.wrap("filesql_spark.dml", "dml_returning", "dml.execute")
        tr.wrap("filesql_spark.sinks.dump", "dump_database", "sinks.dump")
        for mod in ("filesql_spark.queries", "filesql_spark.queries.relational",
                    "filesql_spark.queries.pipeline_queries"):
            tr.wrap(mod, "load_table", "queries.load_table")
        from workloads import BUILDS

        for index, fn, _ in BUILDS:
            tr.wrap("filesql_spark.queries.pipeline_queries", fn, f"pipeline.ensure.{index}")
        self.tracer, self.stats = tr, SparkStats(self.spark)


def _source_format(path: str) -> str:
    name = os.path.basename(path).lower()
    for ext, fmt in ((".csv.gz", "csv_gz"), (".csv.zst", "csv_zst"), (".csv", "csv"),
                     (".tsv", "tsv"), (".ltsv", "ltsv"), (".xlsx", "xlsx"),
                     (".parquet", "parquet")):
        if name.endswith(ext):
            return fmt
    return "other"


def op_gmean(s) -> float:
    """Geometric mean, over operation labels, of each label's median
    seconds. Every label weighs the same whatever its cost, and each
    label's noise is averaged with the others' instead of one label
    deciding the value, as it does for a median of pooled samples."""
    meds = [_median(v) for k, v in s.extra.items() if k.startswith("op.")]
    meds = [m for m in meds if m > 0]
    return math.exp(statistics.fmean(math.log(m) for m in meds)) if meds else 0.0


def end_to_end(setups: list[float], s) -> dict[str, float]:
    return {
        "setup_s": _median(setups),
        "prepare_s": _median(s.prepare),
        "op_gmean_ms": 1000 * op_gmean(s),
        "pass_s": _median(s.passes),
    }


def per_layer(ctx: Context, setups: list[float], s) -> dict[str, float]:
    from workloads import REGISTRY_OPS

    tr = ctx.tracer
    recs = ctx.records
    labels = _op_labels(recs)
    ms = lambda spans: 1000 * _median([x.end - x.start for x in spans])  # noqa: E731
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = setups[0]

    loads = [x for x in tr.spans if x.name.startswith("sources.load_file.")]
    for f in SOURCE_FORMATS:
        m[f"sources.open_file_ms.{f}"] = ms(tr.spans_named(f"sources.load_file.{f}"))
    if loads:
        m["sources.jobs_per_file"] = sum(x.jobs for x in loads) / len(loads)
    m["inference.infer_ms"] = ms(tr.spans_named("inference.infer"))
    m["dialect.rewrite_ms"] = ms(tr.spans_named("dialect.rewrite"))
    m["dialect.bind_ms"] = ms(tr.spans_named("dialect.bind"))

    queries = [r for r in recs if "phases" in r and not r["label"].startswith("build.")]
    engine_q = [r for r in queries if r["label"] not in REGISTRY_OPS]
    m["engine.construct_ms"] = 1000 * _median([r["construct_s"] for r in engine_q])
    m["engine.plan_chars_end"] = ctx.plan_chars
    m["engine.read_after_write_ms"] = 1000 * _median(
        [r["construct_s"] + r["action_s"] for r in recs if r["label"] == "read_back"])
    m["engine.commit_ms"] = ms(tr.spans_named("engine.commit"))
    m["engine.rollback_ms"] = ms(tr.spans_named("engine.rollback"))

    if queries:
        for phase in ("analysis", "optimization", "planning"):
            m[f"spark.{phase}_ms"] = _median([r["phases"][phase] for r in queries])
        m["spark.exec_ms"] = 1000 * _median([r["action_s"] for r in queries])
    ops = [r for r in recs if r["label"] in labels]
    if ops:
        both = lambda r, k: r["construct"][k] + r["action"][k]  # noqa: E731
        m["spark.jobs_per_op"] = sum(both(r, "jobs") for r in ops) / len(ops)
        m["spark.tasks_per_op"] = sum(both(r, "tasks") for r in ops) / len(ops)
        m["spark.shuffle_write_bytes"] = sum(both(r, "shuffle_write_bytes") for r in ops) / len(ops)
        m["spark.spill_bytes"] = sum(both(r, "spill_bytes") for r in ops)
        scanned = sum(both(r, "input_records") for r in queries)
        returned = sum(r["rows"] for r in queries)
        m["spark.rows_scanned_per_row_returned"] = scanned / max(returned, 1)
    m["spark.failed_tasks"] = sum(
        r["construct"]["failed_tasks"] + r["action"]["failed_tasks"] for r in recs)

    for k in DML_KINDS:
        m[f"dml.statement_ms.{k}"] = ms(tr.spans_named(f"dml.statement.{k}"))
    dml_calls = tr.spans_named("dml.execute")
    if dml_calls:
        m["dml.jobs_per_statement"] = sum(x.jobs for x in dml_calls) / len(dml_calls)

    dumps = [r for r in recs if r["label"].startswith("dump.")]
    for f in DUMP_FORMATS:
        m[f"sinks.dump_ms.{f}"] = 1000 * _median(
            [r["action_s"] for r in dumps if r["label"] == f"dump.{f}"])
    if dumps:
        m["sinks.tasks_per_dump"] = sum(r["action"]["tasks"] for r in dumps) / len(dumps)
        m["sinks.bytes_out"] = _median(s.extra.get("dump_bytes", []))

    reg = [r for r in recs if r["label"] in REGISTRY_OPS]
    if reg:
        lt = tr.spans_named("queries.load_table")
        lt_ops = [x for x in lt if x.op and x.op.split("#")[0] in REGISTRY_OPS]
        m["queries.load_table_ms"] = ms(lt_ops)
        m["queries.load_table_calls"] = len(lt_ops)
        m["queries.load_table_jobs"] = sum(x.jobs for x in lt_ops)
        m["queries.construct_s"] = sum(r["construct_s"] for r in reg)
        m["queries.construct_jobs"] = sum(r["construct"]["jobs"] for r in reg)
        m["queries.action_s"] = sum(r["action_s"] for r in reg)
        m["queries.action_jobs"] = sum(r["action"]["jobs"] for r in reg)
        for r in recs:
            if r["label"].startswith("build."):
                m[f"pipeline.build_s.{r['label'][6:]}"] = r["construct_s"] + r["action_s"]
        served = [x for x in tr.spans if x.name.startswith("pipeline.ensure.")
                  and x.op and not x.op.startswith("build.")]
        if served:
            m["pipeline.index_hit_ratio"] = sum(x.jobs == 0 for x in served) / len(served)

    m["spark.cached_bytes"] = ctx.stats.cached_bytes()
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    m["driver.mem_peak_mb"] = py_mb + ctx.stats.jvm_committed_mb()

    # Per operation label: traced time, and traced construct + action
    # medians, each over the untraced median of the same label.
    overhead, parts = [], []
    for label in labels:
        base = _median(s.extra.get(f"op.{label}", []))
        mine = [r for r in recs if r["label"] == label]
        if base and mine:
            overhead.append(_median([r["construct_s"] + r["action_s"] for r in mine]) / base)
            parts.append((_median([r["construct_s"] for r in mine])
                          + _median([r["action_s"] for r in mine])) / base)
    m["trace.overhead_ratio"] = _median(overhead)
    m["trace.parts_ratio"] = _median(parts)
    if parts:
        m["trace.parts_within_10pct"] = sum(abs(p - 1) <= 0.1 for p in parts) / len(parts)
    return m


def _op_labels(recs) -> set[str]:
    """Labels of the operations ``Samples.ops`` times: SELECTs,
    read-backs and transactions, or registry operators."""
    return {r["label"] for r in recs
            if r["label"] != "open" and not r["label"].startswith(("build.", "dump."))}


def report(args, info: dict, setups: list[float], s, layers: dict | None):
    """(run record, result). The result carries the end-to-end metrics, or
    with ``layers`` (a traced run) the per-layer ones; the record carries
    the end-to-end metrics in both modes, from the untraced samples."""
    e2e = end_to_end(setups, s)
    tail_value, tail_pct = tail(s.ops) if s.ops else (0.0, 0.0)
    record = {"record": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **info,
        "end_to_end": {k: round(v, 6) for k, v in e2e.items()},
        "setup_samples_s": [round(x, 4) for x in setups],
        "ops": len(s.ops), "op_p50_ms": round(1000 * _median(s.ops), 3),
        "op_tail_ms": round(1000 * tail_value, 3),
        "tail_percentile": round(tail_pct, 1),
        "prepare_samples_s": [round(x, 4) for x in s.prepare],
        "pass_samples_s": [round(x, 4) for x in s.passes],
        "fail_ratio": len(s.failed) / max(s.attempted, 1),
        "failures": s.failed[:20],
        "extra_medians": {k: round(_median(v), 4) for k, v in sorted(s.extra.items())},
    }}
    metrics, units = (layers, PER_LAYER) if layers is not None else (e2e, END_TO_END)
    result = {
        "correct": not s.failed,
        "attempted": max(s.attempted, 1),
        "failed": len(s.failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return record, result


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "filesql_spark", "__init__.py")):
        print("perfbench: run from the root of a filesql_spark checkout "
              "(no filesql_spark package here)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = _cpus()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    import tempfile

    tempfile.tempdir = None
    load_start = os.getloadavg()[0]
    ctx = Context(work, args.seed)
    try:
        w = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        inputs = w.generate(work)
        gen_s = time.perf_counter() - t0
        import gen

        fp = gen.fingerprint(inputs)
        setups = ctx.setup()
        w.warm()
        if args.trace:
            # Traced and untraced operations alternate; the untraced ones
            # are the baseline for the tracing overhead.
            ctx.install_tracer()
            w.measure(args.seconds, trace=True)
            ctx.tracer.unwrap_all()
            layers = per_layer(ctx, setups, w.s)
            spans = os.path.join(root, ".perfbench_work", "spans")
            os.makedirs(spans, exist_ok=True)
            ctx.tracer.dump(os.path.join(spans, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            w.measure(args.seconds, trace=False)
            layers = None
        import pyarrow
        import pyspark

        info = {
            "nproc": cpus, "spark": pyspark.__version__,
            "python": platform.python_version(), "pyarrow": pyarrow.__version__,
            "driver_memory": DRIVER_MEM, "loadavg_1m_start": load_start,
            "loadavg_1m_end": os.getloadavg()[0], "input_sha256": fp,
            "gen_s": round(gen_s, 4),
            "wall_s": round(time.perf_counter() - PROCESS_START, 2),
        }
        record, result = report(args, info, setups, w.s, layers)
        print(json.dumps(record))
        print(json.dumps(result))
        return 0
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM (and with it the
    Python workers it started) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
