"""One benchmark run, in a fresh process.

``run.py`` starts this module with the run's own TMPDIR, warehouse and
Spark local dirs in its environment, and reads the JSON it writes to
``--out``. A run sets up (Spark, table registration, working tables,
one checked warm-up pass), runs the timed sequence, and checks results
against DuckDB outside every timing. With ``--trace 1`` it runs half of
the sequence's chunks with the engine's public functions wrapped, for
the per-layer metrics, and the other half untraced, for the tracing
overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics, ops  # noqa: E402
from perfbench.check import (  # noqa: E402
    TABLE_FINGERPRINTS,
    Mirror,
    duck_con,
    frames_match,
)
from perfbench.trace import (  # noqa: E402
    JvmCounters,
    Tracer,
    exec_totals,
    find_event_log,
    fold_event_log,
    jobs_in,
    query_phases_ms,
    streaming_listener_class,
)

# Nominal rate of chunks (sql_oltp statement blocks, roster passes),
# used only to turn --seconds into a fixed number of whole chunks, so
# that every run of a workload executes the same ops whatever the host's
# speed. At 18 s that is 2 chunks: 2 sql_oltp blocks (48 statements,
# about 20 s on a 4-core host), 2 stream_ingest passes (about 20
# micro-batches, 16 s) or 2 etl_batch passes (38 s).
CHUNKS_PER_S = 0.11


@dataclass
class OpRec:
    name: str
    start: float
    end: float
    ms: float
    ok: bool
    is_write: bool = False
    samples_ms: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Phase:
    ops: list

    @property
    def samples(self) -> list[float]:
        return [s for o in self.ops for s in o.samples_ms]

    @property
    def busy_s(self) -> float:
        return sum(o.ms for o in self.ops) / 1000.0

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``; links are
    not followed, so a file shared by several snapshots counts once."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            if not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


class Run:
    """State shared by the workloads: the Spark session, paths, the
    optional tracer, and time spent on checks (kept out of set-up)."""

    def __init__(self, args, spark):
        self.args = args
        self.spark = spark
        self.sf = args.sf_dir
        self.warehouse = os.environ["SPARK_GRAFT_WAREHOUSE"]
        self.check_s = 0.0
        self.tracer: Optional[Tracer] = None
        self.counters: Optional[JvmCounters] = None
        self.tracing = False
        self.setup_spans: dict[str, float] = {}

    @contextlib.contextmanager
    def checking(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()


class Oltp:
    """sql_oltp: one client sends statements through EngineSession.sql."""

    def __init__(self, run: Run):
        self.run = run
        self.seed = run.args.seed
        self.n_blocks = max(1, round(run.args.seconds * CHUNKS_PER_S))
        self.chunk = len(ops.BLOCK)
        self.attempted = 0

    def setup(self) -> list[OpRec]:
        from etl_lealone_spark.session import EngineSession
        from etl_lealone_spark.tables import register_views

        r = self.run
        t = time.perf_counter()
        register_views(r.spark, r.sf)
        self.session = EngineSession(r.spark, warehouse=r.warehouse)
        self.session.sql(f"CREATE TABLE ord ({ops.ORD_COLS})")
        self.session.sql("INSERT INTO ord SELECT * FROM orders")
        self.session.sql(f"CREATE TABLE cust ({ops.CUST_COLS})")
        self.session.sql("INSERT INTO cust SELECT * FROM customer")
        r.setup_spans["tables.load_ms"] = (time.perf_counter() - t) * 1000
        with r.checking():
            self.mirror = Mirror(r.sf, ops.ORD_COLS, ops.CUST_COLS)
        return [self.do(st) for st in ops.oltp_warmup(self.seed)]

    def sequence(self):
        return ops.oltp_statements(self.seed, self.n_blocks)

    def do(self, st: ops.Statement) -> OpRec:
        r = self.run
        traced = r.tracing
        self.attempted += 1
        before = r.counters.read() if traced else None
        wh_before = tree_bytes(r.warehouse) if traced and st.is_write else None
        err = None
        rows = df = None
        start = time.time()
        t = time.perf_counter()
        try:
            df = self.session.sql(st.sql)
            if not st.is_write:
                rows = df.collect()
        except Exception:  # a failed statement is counted, not fatal
            err = traceback.format_exc(limit=3)
        ms = (time.perf_counter() - t) * 1000
        rec = OpRec(st.kind, start, time.time(), ms, err is None, st.is_write, [ms])
        with r.checking():
            if err is not None:
                print(f"statement failed: {st.sql}\n{err}", file=sys.stderr)
            elif st.is_write:
                self.mirror.apply(st.mirror_sql)
            elif not self.mirror.matches(st.mirror_sql, df.columns, rows):
                rec.ok = False
                print(f"wrong result: {st.sql}", file=sys.stderr)
        if traced:
            after = r.counters.read()
            rec.extra["counters"] = {k: after[k] - before[k] for k in after}
            if rows is not None:
                rec.extra["phases"] = query_phases_ms(df)
            if wh_before is not None:
                b, f = tree_bytes(r.warehouse)
                rec.extra["bytes"] = b - wh_before[0]
                rec.extra["files"] = f - wh_before[1]
        return rec

    def final_check(self) -> bool:
        with self.run.checking():
            ok = True
            for table, q in TABLE_FINGERPRINTS.items():
                df = self.session.sql(q)
                if not self.mirror.matches(q, df.columns, df.collect()):
                    print(f"table {table} differs from its mirror", file=sys.stderr)
                    ok = False
            return ok

    def storage(self) -> dict:
        """Warehouse bytes against the bytes of each table's current
        snapshot, and the number of snapshot versions kept."""
        tables = self.session.catalog.tables.values()
        # data_files() resolves links, so a file shared by versions counts once
        live = sum(os.path.getsize(p) for st in tables for p in st.data_files())
        total = tree_bytes(self.run.warehouse)[0]
        versions = sum(len(st.versions()) for st in tables)
        return {"warehouse_bytes": total, "live_bytes": live,
                "space_amp": total / live if live else 0.0, "versions": versions}


class Roster:
    """etl_batch and stream_ingest: one client runs registered workloads.

    An op is ``Workload.build`` followed by a noop write of its result.
    For stream_ingest the timed samples are the micro-batches each drain
    runs, as reported by Spark's streaming progress."""

    def __init__(self, run: Run, names: tuple[str, ...], stream: bool):
        self.run = run
        self.names = names
        self.stream = stream
        self.n_passes = max(1, round(run.args.seconds * CHUNKS_PER_S))
        self.chunk = len(names)
        self.wrong: set[str] = set()
        self.attempted = 0
        self.listener = None

    def setup(self) -> list[OpRec]:
        from etl_lealone_spark.tables import register_views
        from etl_lealone_spark.workloads import all_workloads

        r = self.run
        if self.stream:
            self.listener = streaming_listener_class()()
            r.spark.streams.addListener(self.listener)
        t = time.perf_counter()
        register_views(r.spark, r.sf)
        r.setup_spans["tables.load_ms"] = (time.perf_counter() - t) * 1000
        self.workloads = all_workloads()
        with r.checking():
            self.duck = duck_con(r.sf)
        recs = []
        for name in self.names:
            # the cold pass warms the JVM and is the run's oracle check
            self.attempted += 1
            w = self.workloads[name]
            start = time.time()
            t = time.perf_counter()
            try:
                pdf = w.build(r.spark, r.sf).toPandas()
            except Exception:
                pdf = None
                print(f"{name} failed\n{traceback.format_exc(limit=3)}", file=sys.stderr)
            ms = (time.perf_counter() - t) * 1000
            with r.checking():
                ok, why = (False, "build failed") if pdf is None else frames_match(
                    pdf, self.duck.execute(w.oracle).fetchdf())
                if not ok:
                    self.wrong.add(name)
                    print(f"{name}: wrong result: {why}", file=sys.stderr)
                if self.listener is not None:
                    self.listener.settle()
                    self.listener.take()
            recs.append(OpRec(name, start, time.time(), ms, ok))
        return recs

    def sequence(self):
        return ops.roster_order(self.run.args.seed, self.names, self.n_passes)

    def do(self, name: str) -> OpRec:
        r = self.run
        traced = r.tracing
        self.attempted += 1
        before = r.counters.read() if traced else None
        err = None
        start = time.time()
        t = time.perf_counter()
        try:
            with r.span("workloads.build"):
                df = self.workloads[name].build(r.spark, r.sf)
            with r.span("workloads.exec"):
                df.write.format("noop").mode("overwrite").save()
        except Exception:
            err = traceback.format_exc(limit=3)
        ms = (time.perf_counter() - t) * 1000
        rec = OpRec(name, start, time.time(), ms, err is None and name not in self.wrong)
        if err is not None:
            print(f"{name} failed\n{err}", file=sys.stderr)
        if self.stream:
            self.listener.settle()
            batches = self.listener.take()
            rec.samples_ms = [float(b["duration_ms"]["triggerExecution"]) for b in batches]
            rec.extra["batches"] = batches
        else:
            rec.samples_ms = [ms]
        if traced:
            after = r.counters.read()
            rec.extra["counters"] = {k: after[k] - before[k] for k in after}
        return rec

    def final_check(self) -> bool:
        return not self.wrong

    def storage(self) -> dict:
        return {}


def wrap_engine(tr: Tracer) -> None:
    """Wrap the engine's public functions named in the layer table."""
    from etl_lealone_spark import catalog, dialect, session
    from etl_lealone_spark.operators import dml
    from etl_lealone_spark.streaming import ingest

    tr.wrap(session.EngineSession, "sql", "session.sql")
    tr.wrap(dialect, "rewrite", "dialect.rewrite")
    tr.wrap(catalog.StatementRouter, "execute", "catalog.route")
    tr.wrap(catalog.Catalog, "refresh_view", "catalog.refresh_view")
    for m in ("read", "write", "insert", "update", "delete", "merge"):
        tr.wrap(dml.SnapshotTable, m, f"operators.dml.{m}")
    tr.wrap(ingest, "drain_to_batch", "streaming.drain")


def run_ops(wl, seq, first_op: int = 0) -> list[OpRec]:
    recs = []
    for i, item in enumerate(seq, first_op):
        if wl.run.tracing:
            wl.run.tracer.op = i
        recs.append(wl.do(item))
    return recs


def run_traced(run: Run, wl, seq, first_op: int) -> list[OpRec]:
    wrap_engine(run.tracer)
    run.tracing = True
    try:
        return run_ops(wl, seq, first_op)
    finally:
        run.tracing = False
        run.tracer.unwrap_all()


def layer_metrics(run: Run, phase: Phase, untraced: Phase, log, storage: dict) -> dict[str, float]:
    """Per-layer values of the traced phase (see metrics.PER_LAYER)."""
    tr = run.tracer
    n = len(phase.ops)
    writes = [o for o in phase.ops if o.is_write]
    n_w = len(writes)
    reads = [o for o in phase.ops if "phases" in o.extra]
    per = lambda x, d: x / d if d else 0.0  # noqa: E731
    v: dict[str, float] = {}
    v["session.sql_self_ms_per_op"] = per(tr.self_time("session.sql") * 1000, n)
    v["dialect.rewrite_calls_per_op"] = per(tr.count("dialect.rewrite"), n)
    v["dialect.rewrite_ms_per_op"] = per(tr.total("dialect.rewrite") * 1000, n)
    v["catalog.route_self_ms_per_op"] = per(tr.self_time("catalog.route") * 1000, n)
    v["catalog.refresh_view_ms_per_write"] = per(tr.total("catalog.refresh_view") * 1000, n_w)
    write_jobs = jobs_in(log, [(o.start, o.end) for o in writes])
    useful = jobs_in(log, tr.windows("operators.dml.write") + tr.windows("operators.dml.insert"))
    useful = [j for j in useful if j in write_jobs]
    v["catalog.jobs_per_write"] = per(len(write_jobs), n_w)
    v["catalog.useful_job_ratio"] = per(len(useful), len(write_jobs))
    # a snapshot commit is a write or insert not nested in another one
    # (update, delete and merge commit through write)
    commit = {s.id: s for s in tr.spans if s.name in ("operators.dml.write", "operators.dml.insert")}
    top = [s for s in commit.values() if s.parent not in commit]
    v["operators.dml.write_ms_per_write"] = per(sum(s.end - s.start for s in top) * 1000, len(top))
    v["operators.dml.read_ms_per_op"] = per(tr.total("operators.dml.read") * 1000, n)
    v["operators.dml.bytes_written_per_write"] = per(sum(o.extra.get("bytes", 0) for o in writes), n_w)
    v["operators.dml.files_written_per_write"] = per(sum(o.extra.get("files", 0) for o in writes), n_w)
    v["operators.dml.versions_end"] = storage.get("versions", 0)
    v["operators.dml.space_amp"] = storage.get("space_amp", 0.0)
    cnt = lambda k: sum(o.extra["counters"][k] for o in phase.ops)  # noqa: E731
    v["spark.files_discovered_per_op"] = per(cnt("files_discovered"), n)
    v["spark.file_cache_hits_per_op"] = per(cnt("file_cache_hits"), n)
    v["spark.codegen_compiles_per_op"] = per(cnt("codegen_compiles"), n)
    v["spark.codegen_compile_ms_per_op"] = per(cnt("codegen_compile_ms"), n)
    for key, name in (("analysis", "analysis"), ("optimization", "optimizer"), ("planning", "planning")):
        v[f"spark.{name}_ms_per_read"] = per(sum(o.extra["phases"][key] for o in reads), len(reads))
    v["workloads.build_ms_per_op"] = per(tr.total("workloads.build") * 1000, n)
    v["workloads.build_jobs_per_op"] = per(len(jobs_in(log, tr.windows("workloads.build"))), n)
    v["workloads.exec_ms_per_op"] = per(tr.total("workloads.exec") * 1000, n)
    ex = exec_totals(log, jobs_in(log, [(o.start, o.end) for o in phase.ops]))
    for key, name in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                      ("run_ms", "task_run_ms"), ("cpu_ms", "task_cpu_ms"), ("gc_ms", "gc_ms"),
                      ("shuffle_write", "shuffle_write_bytes"), ("shuffle_read", "shuffle_read_bytes"),
                      ("spill", "spill_bytes")):
        v[f"spark.exec.{name}_per_op"] = per(ex[key], n)
    v["spark.exec.stage_busy_ratio"] = per(ex["busy_s"], phase.busy_s)
    v["spark.exec.peak_exec_mem_bytes"] = ex["peak_mem"]
    batches = [b for o in phase.ops for b in o.extra.get("batches", ())]
    if batches:
        drains = [o for o in phase.ops if o.extra.get("batches")]
        dur = lambda k: sum(b["duration_ms"].get(k, 0) for b in batches)  # noqa: E731
        n_b = len(batches)
        v["streaming.drain_ms_per_drain"] = per(tr.total("streaming.drain") * 1000, tr.count("streaming.drain"))
        v["streaming.triggers_per_drain"] = per(n_b, len(drains))
        v["streaming.trigger_ms_p50"] = statistics.median(b["duration_ms"]["triggerExecution"] for b in batches)
        v["streaming.add_batch_ms_per_trigger"] = dur("addBatch") / n_b
        v["streaming.query_planning_ms_per_trigger"] = dur("queryPlanning") / n_b
        v["streaming.wal_commit_ms_per_trigger"] = dur("walCommit") / n_b
        v["streaming.commit_offsets_ms_per_trigger"] = dur("commitOffsets") / n_b
        # state at the end of each drain, summed over drains
        last = [o.extra["batches"][-1] for o in drains]
        v["streaming.state_rows_total"] = sum(b["state_rows"] for b in last)
        v["streaming.state_mem_bytes"] = max(b["state_mem"] for b in batches)
    v.update(run.setup_spans)
    # The overhead of the span wrappers and counter reads only: both
    # kinds of chunk run with the Spark event log on (a --trace 1 run
    # turns it on for the whole session), so its cost is not in this
    # figure, and the two sides run different chunks of the sequence, so
    # it is not resolved below the run-to-run spread.
    traced_rate = len(phase.samples) / phase.busy_s
    plain_rate = len(untraced.samples) / untraced.busy_s
    v["trace.ops_per_s"] = traced_rate
    v["trace.overhead_pct"] = 100.0 * (1 - traced_rate / plain_rate)
    return v


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    share stolen by other guests explains slow runs on a shared host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024
    return py + jvm


def provenance(spark) -> dict:
    import platform

    import duckdb
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--event-log-dir", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the process was started")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from etl_lealone_spark.session import build_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": args.event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t = time.perf_counter()
    spark = build_spark(app_name=f"perfbench-{args.workload}", cores=args.cores,
                        shuffle_partitions=args.cores, extra_conf=conf)
    build_spark_s = time.perf_counter() - t
    run = Run(args, spark)
    if args.workload == "sql_oltp":
        wl = Oltp(run)
    elif args.workload == "etl_batch":
        wl = Roster(run, ops.ETL_ROSTER, stream=False)
    else:
        wl = Roster(run, ops.STREAM_ROSTER, stream=True)

    t = time.perf_counter()
    warm = wl.setup()
    setup_parts = {
        "build_spark_s": build_spark_s,
        "load_s": run.setup_spans["tables.load_ms"] / 1000,
        "warmup_s": time.perf_counter() - t - run.check_s - run.setup_spans["tables.load_ms"] / 1000,
        "check_s": run.check_s,
    }
    setup_s = time.time() - args.t0 - run.check_s
    # A traced run splits the same sequence into traced and untraced
    # chunks (a block of statements, a roster pass) in the order T U U T,
    # so a traced run takes about as long as an untraced one. With two
    # chunks the traced one runs first, right after the warm-up pass.
    seq = wl.sequence()
    timed, traced = Phase([]), Phase([])
    wh_added = 0
    if args.trace:
        run.tracer, run.counters = Tracer(), JvmCounters(spark)
    steal0, total0 = cpu_ticks()
    for c, i in enumerate(range(0, len(seq), wl.chunk)):
        chunk = seq[i:i + wl.chunk]
        if args.trace and c % 4 in (0, 3):
            traced.ops += run_traced(run, wl, chunk, first_op=i)
        else:
            before = tree_bytes(run.warehouse)[0]
            timed.ops += run_ops(wl, chunk)
            wh_added += tree_bytes(run.warehouse)[0] - before
    steal1, total1 = cpu_ticks()
    ok = wl.final_check()
    storage = wl.storage()
    rss = peak_rss_mb(spark)
    prov = provenance(spark)
    spark.stop()

    failed = sum(1 for o in warm if not o.ok) + timed.failed + traced.failed
    result = {
        "attempted": wl.attempted,
        "failed": failed,
        "correct": ok and failed == 0,
        "provenance": prov,
        "detail": {
            "cores": args.cores,
            "ops": len(timed.ops),
            "samples": len(timed.samples),
            "error_rate": failed / wl.attempted,
            "check_s": run.check_s,
            "setup_parts": setup_parts,
            "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            **storage,
        },
    }
    if args.workload != "sql_oltp":
        result["detail"]["cold_ms"] = {o.name: o.ms for o in warm}
    # each op's latency by kind (statement kind or workload name)
    result["detail"]["op_ms"] = {
        k: [round(o.ms, 1) for o in timed.ops if o.name == k]
        for k in dict.fromkeys(o.name for o in timed.ops)}
    if args.workload == "sql_oltp":
        reads = [o.ms for o in timed.ops if not o.is_write]
        writes = [o.ms for o in timed.ops if o.is_write]
        result["detail"].update({
            "read_p50_ms": statistics.median(reads), "reads": len(reads),
            "write_p50_ms": statistics.median(writes), "writes": len(writes),
            "write_max_ms": max(writes), "write_bytes_per_op": wh_added / len(writes),
        })
    if args.trace:
        log = fold_event_log(find_event_log(args.event_log_dir))
        values = layer_metrics(run, traced, timed, log, storage)
        values["session.build_spark_s"] = build_spark_s
        values["session.peak_rss_mb"] = rss
        result["metrics"] = metrics.with_units(values)
        result["predictions"] = [list(p) for p in metrics.PREDICTIONS]
    else:
        result["metrics"], result["detail"]["tail"] = metrics.end_to_end(
            setup_s, timed.samples, timed.busy_s)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
