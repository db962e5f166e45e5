"""Fresh-plan operation latency of the engine, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Workloads (see ``workloads.py``): ``relational`` and ``curation_llm``
run registered queries at sf0.1 under the bench profile
(``get_session(low_latency=True)``); ``lakehouse`` runs seeded cycles of
``TxLogTable`` calls over ``orders`` under the engine's default profile
(AQE on). One client runs a closed loop: each operation starts when the
previous one has finished. A query operation is the fresh-plan path:
build the DataFrame with ``QuerySpec.fn``, plan it, run every stage and
fetch the whole result (Arrow ``toPandas`` for the full-output queries,
``collect`` otherwise).

``--trace 0`` measures for ``--seconds`` and prints the end-to-end
metrics. ``--trace 1`` measures the same window untraced, then again
with spans and Spark counters, and prints the per-layer metrics; spans
go to ``.perfbench/spans-<workload>-<seed>.json``. Every result is
checked outside the timed regions. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; a readable
report goes to stderr.

Inputs, the oracle cache and temporary files live under ``.perfbench/``
in the repository root; the corpus and oracle answers are made once and
reused, and their time is reported apart from ``setup_s``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # process start: setup_s is measured from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SF = 0.1
CORPUS_SEED = 42
# Warm-up runs passes until pass time stops falling: at least WARM_MIN
# passes, then stop once a pass is not WARM_FALL faster than the one
# before, or after WARM_MAX passes.
WARM_MIN, WARM_MAX, WARM_FALL = 2, 3, 0.97
MIN_PASSES = 2  # measured passes per window, whatever --seconds says

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.eager_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.core_util": "ratio",
    "exec.input_bytes": "B", "exec.input_rows": "count", "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B", "exec.failed_tasks": "count",
    "python.boot_s": "s", "python.exec_s": "s", "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "fetch.s": "s", "fetch.rows": "count",
    "aqe.query_stages": "count", "aqe.coalesced_partitions": "count",
    "txlog.commit_s": "s", "txlog.upsert_mor_s": "s", "txlog.delete_mor_s": "s",
    "txlog.read_snapshot_s": "s", "txlog.count_snapshot_s": "s",
    "txlog.commit_replace_s": "s", "txlog.vacuum_s": "s", "txlog.prune_log_s": "s",
    "txlog.active_files": "count", "txlog.log_entries": "count", "txlog.dv_rows": "count",
    "txlog.bytes_written": "B", "txlog.write_amp": "ratio", "txlog.space_amp": "ratio",
    "trace.overhead_frac": "ratio", "trace.layer_gap_frac": "ratio",
    "trace.failed_reads": "count",
}
# Per-pass sums of these op-level values give the per-layer figures.
_SUMMED = [
    "plans.build_s", "plans.eager_jobs", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.input_bytes", "exec.input_rows",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.failed_tasks", "python.boot_s", "python.exec_s", "python.bytes_sent",
    "python.bytes_received", "fetch.s", "fetch.rows", "aqe.query_stages",
    "aqe.coalesced_partitions", "trace.failed_reads",
]
TXLOG_CALLS = ("commit", "upsert_mor", "delete_mor", "read_snapshot", "count_snapshot",
               "commit_replace", "vacuum", "prune_log")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def p90_tail(samples: list[float]) -> tuple[float, int]:
    """The 90th percentile and how many samples lie above it."""
    if len(samples) < 2:
        v = samples[0] if samples else 0.0
        return v, 0
    p90 = statistics.quantiles(samples, n=10)[8]
    return p90, sum(1 for s in samples if s > p90)


def _proc_stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of a live process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return (None if fields[0] in ("Z", "X") else (fields[0], int(fields[1])))


def process_tree() -> list[int]:
    """This process and all its live descendants: the Python driver,
    the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                children.setdefault(st[1], []).append(int(d))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM, MB) summed per command name over the
    process tree."""
    out: dict[str, float] = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to end; kill any still alive after ``timeout``."""
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _proc_stat(p) is not None]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def cpu_times() -> list[int]:
    """Host CPU jiffies: user, nice, system, idle, iowait, irq, softirq,
    steal. Steal is time the hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _environment(ncpu: int, tmp: str) -> None:
    """Settings the JVM and its Python workers inherit. PYTHONPATH lets
    workers unpickle UDFs from ``lightcurator_spark`` whatever the
    launch directory; scratch space stays inside the checkout."""
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # -XX:-UsePerfData: the JVMs (spark-submit's launcher, then the
    # driver) would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def ensure_corpus() -> tuple[str, str, float]:
    """The sf0.1 corpus directory, its cache key and the seconds spent
    generating it (0 when an earlier run already wrote it)."""
    import datagen

    with open(datagen.__file__, "rb") as fh:
        key = hashlib.sha256(fh.read() + f"{SF}/{CORPUS_SEED}".encode()).hexdigest()[:16]
    out = os.path.join(STATE, f"corpus-sf{SF}-{key}")
    if os.path.isdir(out):
        return out, key, 0.0
    t = time.perf_counter()
    staging = f"{out}.{os.getpid()}.tmp"
    datagen.write_corpus(staging, SF, CORPUS_SEED)
    os.replace(staging, out)
    return out, key, time.perf_counter() - t


class Runner:
    """Runs ops in a closed loop and keeps one record per op."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.n = 0

    @staticmethod
    def _fetch(df, full_output: bool):
        return df.toPandas() if full_output else df.collect()

    def run(self, op) -> dict:
        self.n += 1
        rec = {"name": op.name, "error": None, "result": None, "meta": op.meta}
        if self.tracer is not None:
            self._run_traced(op, f"op{self.n}", rec)
            return rec
        df = None
        t0 = time.perf_counter()
        try:
            if op.build is not None:
                df = op.build()
                rec["result"] = self._fetch(df, op.full_output)
            else:
                rec["result"] = op.call()
        except Exception as e:  # an op that raises is a failed op; the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"
        rec["wall"] = time.perf_counter() - t0
        if df is not None and rec["error"] is None:
            rec["dtypes"] = df.dtypes
        return rec

    def _run_traced(self, op, op_id: str, rec: dict) -> None:
        tr = self.tracer
        layers = rec["layers"] = {}
        w0 = time.time()
        try:
            with tr.span("op", op_id) as root:
                if op.build is None:
                    tr.job_group(f"{op_id}/run")
                    with tr.span(f"txlog.{op.name}", op_id, root):
                        rec["result"] = op.call()
                else:
                    tr.job_group(f"{op_id}/build")
                    with tr.span("plans.build", op_id, root):
                        df = op.build()
                    tr.job_group(f"{op_id}/run")
                    with tr.span("catalyst", op_id, root):
                        df._jdf.queryExecution().executedPlan()
                    a0 = time.time()
                    with tr.span("exec+fetch", op_id, root):
                        rec["result"] = self._fetch(df, op.full_output)
                    a1 = time.time()
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"
        rec["wall"] = time.time() - w0
        tr.drain()
        run = tr.job_counters(tr.jobs_of(f"{op_id}/run"))
        last_end = run.pop("last_job_end")
        layers.update(run)
        if op.build is None or rec["error"] is not None:
            return
        build_span = tr.spans[root + 1]
        layers["plans.build_s"] = build_span["end"] - build_span["start"]
        layers["plans.eager_jobs"] = len(tr.jobs_of(f"{op_id}/build"))
        layers.update(tr.phases(df))
        layers.update(tr.plan_counters(df))
        rec["dtypes"] = df.dtypes
        end = min(max(last_end or a0, a0), a1)
        layers["exec.s"] = end - a0
        layers["fetch.s"] = a1 - end
        rec["query_like"] = True


def run_passes(runner: Runner, next_pass, seconds: float | None, min_passes: int,
               max_passes: int | None = None, fall: float | None = None,
               after_op=None) -> list[dict]:
    """Closed loop over passes. A pass's time is the sum of its op wall
    times. With ``seconds``, a new pass starts only if the last one
    would still fit; with ``fall``, passes stop once one is not ``fall``
    times faster than the pass before (the warm-up rule)."""
    passes: list[dict] = []
    t0 = time.perf_counter()
    while True:
        recs = []
        for op in next_pass():
            rec = runner.run(op)
            recs.append(rec)
            if after_op is not None:
                after_op(rec)
        passes.append({"time": sum(r["wall"] for r in recs), "ops": recs})
        n = len(passes)
        if max_passes is not None and n >= max_passes:
            break
        if n < min_passes:
            continue
        if fall is not None and passes[-1]["time"] > fall * passes[-2]["time"]:
            break
        if seconds is not None and time.perf_counter() - t0 + passes[-1]["time"] > seconds:
            break
    return passes


def trace_window(runner: Runner, next_pass, seconds: float, after_op):
    """Alternate untraced and traced passes for about ``2 * seconds``, so
    that any drift while the JVM keeps warming falls on both alike."""
    from spans import Tracer

    tracer = Tracer(runner.spark)
    untraced: list[dict] = []
    traced: list[dict] = []
    t0 = time.perf_counter()
    while True:
        for tr, bucket in ((None, untraced), (tracer, traced)):
            runner.tracer = tr
            bucket += run_passes(runner, next_pass, None, 1, max_passes=1, after_op=after_op)
        elapsed = time.perf_counter() - t0
        if len(traced) >= MIN_PASSES and elapsed + untraced[-1]["time"] + traced[-1]["time"] > 2 * seconds:
            return untraced, traced


def query_checks(passes: list[dict], specs: dict, oracles) -> dict[int, str]:
    """Failure reason per failed op record (keyed by ``id(record)``).

    The first sample of each op is hashed against its DuckDB oracle;
    every later sample must match the first one's columns and row count,
    which is also the whole check for rows-only queries."""
    import check

    bad: dict[int, str] = {}
    first: dict[str, tuple | None] = {}
    for p in passes:
        for rec in p["ops"]:
            if rec["error"] is not None:
                bad[id(rec)] = rec["error"]
                continue
            name, dtypes, res = rec["name"], rec["dtypes"], rec["result"]
            cols = [c for c, _ in dtypes]
            shape = (sorted(cols), len(res))
            if name not in first:
                first[name] = shape
                spec = specs.get(name)
                if spec is not None and spec.oracle:
                    why = check.mismatch(oracles.get(spec.oracle),
                                         check.digest(cols, check.rows_of(res, dtypes)))
                    if why:
                        bad[id(rec)] = why
                        first[name] = None
            elif first[name] is None:
                bad[id(rec)] = "oracle mismatch on an earlier sample"
            elif shape != first[name]:
                bad[id(rec)] = f"columns/rows {shape} differ from the first sample {first[name]}"
    return bad


def lakehouse_checks(passes: list[dict], lake, orders_path: str) -> dict[int, str]:
    import check

    expected = check.replay_lakehouse(orders_path, lake.log)
    bad: dict[int, str] = {}
    for p in passes:
        for rec in p["ops"]:
            if rec["error"] is not None:
                bad[id(rec)] = rec["error"]
                continue
            v = rec["meta"].get("version")
            if rec["name"] == "read_snapshot":
                got = check.snapshot_of(rec["result"])
                if got != expected[v]:
                    bad[id(rec)] = f"snapshot at v{v}: expected {expected[v]}, got {got}"
            elif rec["name"] == "count_snapshot":
                want = sum(n for n, _ in expected[v].values())
                if rec["result"] != want:
                    bad[id(rec)] = f"count_snapshot at v{v}: {rec['result']} != scan count {want}"
    return bad


def txlog_metrics(lake, passes: list[dict], io: dict, tmp: str) -> dict:
    """Per-call medians of each public method, and the table's end state."""
    out = {}
    for name in TXLOG_CALLS:
        out[f"txlog.{name}_s"] = median(
            r["wall"] for p in passes for r in p["ops"] if r["name"] == name)
    t = lake.table
    out["txlog.active_files"] = len(t.active_files())
    out["txlog.log_entries"] = len(os.listdir(t.log_dir))
    out["txlog.dv_rows"] = t.dv_debt()["dv_rows"]
    out["txlog.bytes_written"] = io["written"]
    out["txlog.write_amp"] = io["written"] / io["user"] if io["user"] else 0.0
    plain = os.path.join(tmp, "plain")
    t.read_snapshot(lake.spark).coalesce(1).write.parquet(plain)
    live = sum(dir_files(plain).values())
    out["txlog.space_amp"] = sum(dir_files(t.path).values()) / live
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_gap(rec: dict) -> float:
    """|op wall - (build + catalyst + exec + fetch)| / op wall for a
    traced query-like op. Analysis runs while the DataFrame is built, so
    ``plans.build_s`` already holds it; catalyst adds the optimization
    and planning phases that ``executedPlan()`` runs."""
    L = rec["layers"]
    parts = (L["plans.build_s"] + L["catalyst.optimization_s"] + L["catalyst.planning_s"]
             + L["exec.s"] + L["fetch.s"])
    return abs(rec["wall"] - parts) / rec["wall"]


def layer_metrics(traced: list[dict], untraced: list[dict], cores: int) -> dict:
    """Per-pass layer totals (median over traced passes) plus ratios."""
    out = {}
    per_pass = []
    for p in traced:
        tot = dict.fromkeys(_SUMMED + ["query_task_s"], 0.0)
        for rec in p["ops"]:
            for k, v in rec.get("layers", {}).items():
                if k in tot:
                    tot[k] += v
            if rec.get("query_like"):
                tot["fetch.rows"] += len(rec["result"])
                tot["query_task_s"] += rec["layers"]["exec.task_s"]
        per_pass.append(tot)
    for k in _SUMMED:
        out[k] = median(t[k] for t in per_pass)
    out["trace.failed_reads"] = sum(t["trace.failed_reads"] for t in per_pass)
    # exec.s is only defined for query-like ops, so only their tasks count
    util = [t["query_task_s"] / (t["exec.s"] * cores) for t in per_pass if t["exec.s"] > 0]
    out["exec.core_util"] = median(util)
    gaps = [layer_gap(r) for p in traced for r in p["ops"] if r.get("query_like")]
    out["trace.layer_gap_frac"] = max(gaps) if gaps else 0.0
    out["trace.overhead_frac"] = (
        median(p["time"] for p in traced) / median(p["time"] for p in untraced) - 1.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from workloads import QUERY_WORKLOADS, WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {WORKLOADS}")
        return 2
    if not os.path.isfile(os.path.join(ROOT, "lightcurator_spark", "session.py")):
        log(f"no lightcurator_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(STATE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=STATE)
    try:
        return _run(args, tmp, args.workload in QUERY_WORKLOADS)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, tmp: str, is_query: bool) -> int:
    import workloads

    cores = len(os.sched_getaffinity(0))
    _environment(cores, tmp)
    rng = random.Random(args.seed)

    corpus, corpus_key, gen_s = ensure_corpus()
    oracle_s = 0.0
    specs, fns, oracles = {}, {}, None
    if is_query:
        import bench
        import check
        from lightcurator_spark.plans import load_all

        specs = load_all()
        names = workloads.QUERY_WORKLOADS[args.workload]
        fns = {n: bench.EXTRA.get(n) or specs[n].fn for n in names}
        t = time.perf_counter()
        oracles = check.Oracles(corpus, corpus_key, os.path.join(STATE, "oracle"))
        for n in names:
            if n in specs and specs[n].oracle:
                oracles.get(specs[n].oracle)
        oracles.close()
        oracle_s = time.perf_counter() - t

    from lightcurator_spark.session import get_session

    t = time.perf_counter()
    spark = get_session("perfbench", cpus=cores, low_latency=is_query)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    gateway = spark.sparkContext._gateway
    try:
        return _measure(args, spark, rng, cores, corpus, specs, fns, oracles,
                        gen_s, oracle_s, start_s, is_query, tmp)
    finally:
        started = [p for p in process_tree() if p != os.getpid()]
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM, then its Python daemon, exit on EOF
        gateway.proc.wait(timeout=60)
        wait_gone(started, timeout=30)


def _measure(args, spark, rng, cores, corpus, specs, fns, oracles,
             gen_s, oracle_s, start_s, is_query, tmp) -> int:
    import workloads

    runner = Runner(spark)
    lake = None
    if is_query:
        names = workloads.QUERY_WORKLOADS[args.workload]

        def next_pass():
            return workloads.query_pass(names, fns, spark, corpus, rng)

        after_op = None
        t = time.perf_counter()
    else:
        from lightcurator_spark.sources.txlog import TxLogTable

        table_dir = os.path.join(tmp, "orders_table")
        lake = workloads.Lakehouse(spark, TxLogTable(table_dir), os.path.join(corpus, "orders.parquet"), rng)
        seen: dict[str, int] = {}
        io = {"written": 0, "user": 0}

        def after_op(rec):
            now = dir_files(table_dir)
            new = {f: s for f, s in now.items() if f not in seen}
            seen.update(new)
            io["written"] += sum(new.values())
            if rec["name"] in ("create", "commit", "upsert_mor") and rec["error"] is None:
                io["user"] += sum(s for f, s in new.items()
                                  if f.endswith(".parquet") and not f.startswith(("_log", "_dv")))

        next_pass = lake.pass_ops
        t = time.perf_counter()
        create = workloads.Op("create", call=lake.create)
        after_op(runner.run(create))

    warm = run_passes(runner, next_pass, None, WARM_MIN, WARM_MAX, WARM_FALL, after_op)
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - _T0 - gen_s - oracle_s

    cpu0 = cpu_times()
    if not args.trace:
        measured = run_passes(runner, next_pass, args.seconds, MIN_PASSES, after_op=after_op)
        traced = []
    else:
        measured, traced = trace_window(runner, next_pass, args.seconds, after_op)
        runner.tracer.write(os.path.join(STATE, f"spans-{args.workload}-{args.seed}.json"))
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    rss = tree_peak_rss_mb()
    peak_rss = sum(rss.values())
    jvm_gc_s = sum(gc.getCollectionTime() for gc in spark._jvm.java.lang.management
                   .ManagementFactory.getGarbageCollectorMXBeans()) / 1e3

    all_passes = measured + traced
    if is_query:
        bad = query_checks(all_passes, specs, oracles)
    else:
        bad = lakehouse_checks(all_passes, lake, os.path.join(corpus, "orders.parquet"))
    recs = [r for p in all_passes for r in p["ops"]]
    attempted, failed = len(recs), sum(1 for r in recs if id(r) in bad)
    for r in recs:
        if id(r) in bad:
            log(f"FAILED {r['name']}: {bad[id(r)][:300]}")

    walls = [r["wall"] for p in measured for r in p["ops"]]
    p90, tail = p90_tail(walls)
    log(f"workload={args.workload} seed={args.seed} cores={cores} corpus_gen_s={gen_s:.2f} "
        f"oracle_s={oracle_s:.2f} session_start_s={start_s:.2f} warmup_s={warmup_s:.2f}")
    log("warm-up passes (s): " + " ".join(f"{p['time']:.2f}" for p in warm))
    log("measured passes (s): " + " ".join(f"{p['time']:.2f}" for p in measured))
    log(f"op samples={len(walls)} beyond_p90={tail} failed={failed}/{attempted} "
        f"cpu_steal_share={cpu[7] / max(1, sum(cpu)):.3f}")
    log("peak RSS by process (MB): " + " ".join(f"{k}={v:.0f}" for k, v in sorted(rss.items()))
        + f"; driver JVM GC total {jvm_gc_s:.2f} s")
    by_op: dict[str, list[float]] = {}
    for p in measured:
        for r in p["ops"]:
            by_op.setdefault(r["name"], []).append(r["wall"])
    log("median op wall (s): " + " ".join(f"{n}={median(w):.3f}" for n, w in sorted(by_op.items())))

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (median(p["time"] for p in measured), "s"),
            "op_p50_s": (median(walls), "s"),
            "op_p90_s": (p90, "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    else:
        vals = dict.fromkeys(PER_LAYER, 0.0)
        vals["session.start_s"] = start_s
        vals["session.warmup_s"] = warmup_s
        vals.update(layer_metrics(traced, measured, cores))
        if lake is not None:
            vals.update(txlog_metrics(lake, measured + traced, io, tmp))
        metrics = {k: (vals[k], u) for k, u in PER_LAYER.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
