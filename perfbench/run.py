"""The repository's benchmark: end-to-end serving and ingest metrics, and a
traced run that splits each op into the layers it crosses.

Run from the repository root:

    python3 perfbench/run.py --workload tiny --seed 1 --seconds 20 --trace 0

One invocation runs one workload (see ``workloads.py``) in this fresh
process, against ``local[<cores>]``, as a closed loop with one client:

1. generate the seeded inputs (cached per workload and seed under
   ``.perfbench/inputs``), untimed;
2. set up the session (``setup_s``);
3. a cold pass over the distinct ops of the mix, with an empty artifact
   index dir;
4. warm-up passes, discarded;
5. warm ops, in a seeded order per pass, until ``--seconds`` have passed;
6. correctness checks against the DuckDB oracles, untimed.

With ``--trace 0`` the last stdout line carries every end-to-end metric;
with ``--trace 1`` it carries every per-layer metric, measured from spans,
Spark job groups, the event log and a streaming listener. Everything the
run writes stays under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
from workloads import COMPACT, CONVERT, WORKLOADS  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "parquet_storage_query_spark"
# Enough for the sf0.05 corpus while leaving memory to DuckDB and the
# Python workers; the program's own default is 16g.
DRIVER_MEM = "2g"
# A run that has not finished by then kills its JVM and exits nonzero.
WATCHDOG_S = 175
# Warm passes run and discarded between the cold pass and the timed window.
WARMUP_PASSES = 1
# Generated inputs kept in the cache; the least recently used go first.
INPUT_CACHE_ENTRIES = 6
# Rows each streaming op reads, by the corpus table it streams.
STREAM_SOURCE = {"stream_dedup_watermarked": "events"}


def pin_env(run_dir: str) -> dict[str, str]:
    """Pin every setting the program reads from the environment, and keep
    every file the run writes inside ``run_dir``."""
    cores = len(os.sched_getaffinity(0))
    settings = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "index"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM started, the launcher's too, would otherwise write
        # /tmp/hsperfdata_<user> whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip(),
    }
    for k, v in settings.items():
        if v.startswith(run_dir):
            os.makedirs(v, exist_ok=True)
        os.environ[k] = v
    tempfile.tempdir = None  # re-read TMPDIR
    return settings


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: set[int], timeout: float) -> None:
    """Wait for ``pids`` to end; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 5:
        time.sleep(0.05)


class Bench:
    def __init__(self, wl, inputs: str, run_dir: str, seed: int, seconds: int, traced: bool):
        self.wl, self.seed, self.seconds, self.traced = wl, seed, seconds, traced
        self.corpus = os.path.join(inputs, "corpus")
        self.csv_dir = os.path.join(inputs, "csv")
        self.shard_dir = os.path.join(inputs, "shards")
        self.run_dir = run_dir
        self.prep_outputs: dict[str, str] = {}
        self.n_prep = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.records: list[dict] = []  # one per timed op
        self.check_times: dict[str, float] = {}
        self.served: dict = {}  # op -> the DataFrame its latest serve returned
        self.spark = None
        self.listener = None

    # -- session -------------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        from parquet_storage_query_spark.pkgship import ship_package
        from parquet_storage_query_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if self.traced:
            self.event_dir = os.path.join(self.run_dir, "events")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            # one plain JSON-lines file (Spark 4 defaults to rolling, compressed logs)
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        t2 = time.perf_counter()
        ship_package(self.spark)
        t3 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        t4 = time.perf_counter()
        self.setup_s = t4 - t0
        self.layer_setup = {
            "session.start_s": (t2 - t1) + (t1 - t0),
            "session.first_action_s": t4 - t3,
            "pkgship.ship_s": t3 - t2,
        }
        self.sc = self.spark.sparkContext
        self.jvm = self.sc._gateway.proc
        from parquet_storage_query_spark.registry import all_queries

        self.queries = all_queries()
        if self.traced:
            from tracing import StreamProgress, Tracer

            self.tracer = Tracer()
            self.listener = StreamProgress()
            self.spark.streams.addListener(self.listener)

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM not found")

    def teardown(self) -> None:
        """Stop Spark, then the JVM, then wait for every process it started."""
        if self.spark is None:
            return
        procs = _descendants(os.getpid())
        self.spark.stop()
        self.sc._gateway.shutdown()
        self.jvm.stdin.close()
        _reap(procs, timeout=30)
        self.spark = None

    # -- ops -----------------------------------------------------------------

    def _span(self, name: str, op: str | None = None):
        return self.tracer.span(name, op) if self.traced else nullcontext()

    def _serve(self, name: str, tag: str, rec: dict) -> None:
        qd = self.queries[name]
        if self.traced:
            jobs0 = len(self.sc.statusTracker().getJobIdsForGroup(tag))
        t0 = time.perf_counter()
        with self._span("construct"):
            df = qd.builder(self.spark, self.corpus)
        t1 = time.perf_counter()
        if self.traced:
            rec["hidden_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(tag)) - jobs0
        with self._span("plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        t2 = time.perf_counter()
        with self._span("execute"):
            rec["rows"] = qe.toRdd().count()
        t3 = time.perf_counter()
        rec.update(construct_s=t1 - t0, plan_s=t2 - t1, execute_s=t3 - t2)
        self.served[name] = df
        if self.traced:
            from tracing import plan_summary

            rec.update(plan_summary(qe.executedPlan().toString()))
            rec.update(self._job_counts(tag))

    def _job_counts(self, tag: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        stages: set[int] = set()
        jobs = st.getJobIdsForGroup(tag)
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = [s for s in (st.getStageInfo(i) for i in stages) if s is not None and s.numCompletedTasks > 0]
        return {"jobs": len(jobs), "stages": len(ran), "tasks": sum(s.numCompletedTasks for s in ran)}

    def _prep(self, name: str, rec: dict) -> None:
        from parquet_storage_query_spark.catalog import SCHEMAS
        from parquet_storage_query_spark.sources import prep

        self.n_prep += 1
        dest = os.path.join(self.run_dir, "prep", f"{name}-{self.n_prep}")
        src = self.csv_dir if name == CONVERT else self.shard_dir
        t0 = time.perf_counter()
        with self._span(name):
            if name == CONVERT:
                prep.convert(self.spark, src, dest, SCHEMAS[gen.CSV_TABLE])
            else:
                prep.compact(self.spark, src, dest)
        rec["prep_s"] = time.perf_counter() - t0
        from checks import parquet_bytes

        rec["files_in"], rec["bytes_in"] = parquet_bytes(src)
        rec["files_out"], rec["bytes_out"] = parquet_bytes(dest)
        old = self.prep_outputs.get(name)
        if old:
            shutil.rmtree(old, ignore_errors=True)
        self.prep_outputs[name] = dest

    def run_op(self, name: str, phase: str, pass_no: int, slot: int) -> dict:
        # the slot keeps tags unique when an op appears twice in a mix
        tag = f"{phase}{pass_no}.{slot}:{name}"
        rec = {"op": name, "phase": phase, "pass": pass_no, "tag": tag}
        self.attempted += 1
        if self.traced:
            self.sc.setJobGroup(tag, name)
        t0 = time.perf_counter()
        try:
            with self._span("op", tag):
                if name in (CONVERT, COMPACT):
                    self._prep(name, rec)
                else:
                    self._serve(name, tag, rec)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
            self.failures.append(f"{tag}: {type(e).__name__}: {str(e)[:300]}")
            rec["error"] = True
        rec["latency_s"] = time.perf_counter() - t0
        if self.listener is not None and name in STREAM_SOURCE:
            # drained after every streaming op, traced or not, so progress
            # is never carried over to the next op
            progress, run_ids = self.listener.drain()
            if self.traced:
                rec["stream"], rec["stream_groups"] = progress, run_ids
        if self.traced:
            self.sc.setJobGroup("", "")
        self.records.append(rec)
        return rec

    def order(self, pass_no: int, ops: tuple[str, ...] | None = None) -> list[str]:
        ops = list(self.wl.ops if ops is None else ops)
        random.Random(self.seed * 1000 + pass_no).shuffle(ops)
        return ops

    # -- the run ---------------------------------------------------------------

    def run(self) -> None:
        t0 = time.perf_counter()
        # the cold pass and the warm-up run each distinct op once
        for i, name in enumerate(self.order(0, self.wl.kinds)):
            self.run_op(name, "cold", 0, i)
        self.cold_pass_s = time.perf_counter() - t0
        index = os.environ["SPARK_GRAFT_INDEX_DIR"]
        self.cold_index = _tree_bytes(index)
        t0 = time.perf_counter()
        for p in range(1, 1 + WARMUP_PASSES):
            for i, name in enumerate(self.order(p, self.wl.kinds)):
                self.run_op(name, "warmup", p, i)
        self.warmup_s = time.perf_counter() - t0
        warm_start_wall = time.time()
        # An untraced run stops at the first op boundary after the deadline,
        # having run at least one whole pass so that every op has a sample.
        # A traced run runs whole passes, alternately traced and untraced
        # (the untraced ones measure what tracing costs), at least three.
        trace_run = self.traced
        self.pass_s: list[tuple[bool, float]] = []
        t_start = time.perf_counter()
        deadline = t_start + self.seconds
        p = 1 + WARMUP_PASSES
        while time.perf_counter() < deadline or (trace_run and len(self.pass_s) < 3):
            self.traced = trace_run and len(self.pass_s) % 2 == 0
            tp = time.perf_counter()
            for i, name in enumerate(self.order(p)):
                if not trace_run and self.pass_s and time.perf_counter() >= deadline:
                    break
                self.run_op(name, "warm", p, i)["traced"] = self.traced
            else:
                self.pass_s.append((self.traced, time.perf_counter() - tp))
            self.traced = trace_run
            p += 1
        self.warm_s = time.perf_counter() - t_start
        self.warm_index_write = _tree_bytes(index, newer_than=warm_start_wall)[1]

    def check(self) -> None:
        import checks

        t0 = time.perf_counter()
        con = checks.oracle_connection(self.corpus)
        cold = {r["op"]: r for r in self.records if r["phase"] == "cold"}
        for name in self.wl.kinds:
            self.attempted += 1
            tc = time.perf_counter()
            with self._span("op", f"check:{name}"), self._span("check"):
                try:
                    if name == CONVERT:
                        err = checks.check_convert(con, self.csv_dir, self.prep_outputs[name], gen.CSV_TABLE)
                    elif name == COMPACT:
                        err = checks.check_compact(con, self.shard_dir, self.prep_outputs[name])
                    else:
                        err = checks.check_query(
                            con, self.queries[name], self.served[name], self.corpus, cold[name].get("rows", -1)
                        )
                except Exception as e:  # noqa: BLE001 - a check that raises is a failed op
                    err = f"{type(e).__name__}: {str(e)[:300]}"
            self.check_times[name] = time.perf_counter() - tc
            if err:
                self.failures.append(f"check {name}: {err}")
        con.close()
        self.check_s = time.perf_counter() - t0


def _tree_bytes(root: str, newer_than: float | None = None) -> tuple[int, int]:
    """(top-level entries, bytes of files) under ``root``; with
    ``newer_than``, only files modified since that wall-clock time."""
    total = 0
    for r, _d, fs in os.walk(root):
        for f in fs:
            try:
                st = os.stat(os.path.join(r, f))
            except OSError:
                continue
            if newer_than is None or st.st_mtime >= newer_than:
                total += st.st_size
    return (len(os.listdir(root)) if os.path.isdir(root) else 0), total


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(b: Bench) -> dict[str, tuple[float, str]]:
    """Warm figures are built from each op's median warm latency, so one
    disturbed sample does not move them."""
    import pyarrow.parquet as pq
    from parquet_storage_query_spark.catalog import table_path

    warm = [r for r in b.records if r["phase"] == "warm" and "error" not in r]
    med = {op: _median([r["latency_s"] for r in warm if r["op"] == op]) for op in b.wl.kinds}
    cold = {r["op"]: r for r in b.records if r["phase"] == "cold"}
    prep_ops, stream_ops = (CONVERT, COMPACT), [op for op in b.wl.kinds if op in STREAM_SOURCE]
    served = [op for op in b.wl.kinds if op not in prep_ops]
    stream_rows = {op: pq.ParquetFile(table_path(b.corpus, STREAM_SOURCE[op])).metadata.num_rows for op in stream_ops}
    c_in = sum(cold[op]["bytes_in"] for op in prep_ops)
    c_out = sum(cold[op]["bytes_out"] for op in prep_ops)
    return {
        "setup_s": (b.setup_s, "s"),
        "cold_pass_s": (b.cold_pass_s, "s"),
        "serve_geomean_s": (math.exp(statistics.fmean(math.log(med[op]) for op in served)), "s"),
        # one client running the mix at each op's median latency
        "warm_ops_per_s": (len(b.wl.ops) / sum(med[op] for op in b.wl.ops), "1/s"),
        "ingest_mb_s": (c_in / 1e6 / sum(med[op] for op in prep_ops), "MB/s"),
        "bytes_out_per_in": (c_out / c_in, "ratio"),
        "stream_rows_s": (sum(stream_rows.values()) / sum(med[op] for op in stream_ops), "rows/s"),
    }


def per_layer(b: Bench, exec_by_group: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced warm passes, each the median over
    passes of the pass total, plus set-up, cold-pass and check figures."""
    from tracing import self_times, stream_totals

    warm = [r for r in b.records if r["phase"] == "warm" and r.get("traced") and "error" not in r]
    passes = sorted({r["pass"] for r in warm})
    cold = {r["op"]: r for r in b.records if r["phase"] == "cold"}

    def per_pass(fn) -> float:
        return _median([sum(fn(r) for r in warm if r["pass"] == p) for p in passes])

    def ex(r: dict, field: str) -> float:
        # an op's own job group, plus those of the streaming queries it ran
        groups = [r["tag"], *r.get("stream_groups", [])]
        return sum(getattr(exec_by_group[g], field) for g in groups if g in exec_by_group)

    def stream(field: str) -> float:
        return per_pass(lambda r: stream_totals(r["stream"])[field] if "stream" in r else 0)

    def serve(field: str) -> float:
        return per_pass(lambda r: r.get(field, 0))

    def prep_cold(field: str) -> int:
        return cold[CONVERT].get(field, 0) + cold[COMPACT].get(field, 0)

    run_s = serve("execute_s")
    task_run_s = per_pass(lambda r: ex(r, "task_run_s"))
    cold_artifacts, cold_bytes = b.cold_index
    traced_pass = [s for t, s in b.pass_s if t]
    plain_pass = [s for t, s in b.pass_s if not t]
    warm_ids = {r["tag"] for r in warm}
    spans = [s for s in b.tracer.spans if s.op in warm_ids]
    n_pass = max(1, len(passes))
    out = {
        **{k: (v, "s") for k, v in b.layer_setup.items()},
        "session.jvm_peak_rss_mb": (b.peak_rss_mb, "MB"),
        "operators.construct_s": (serve("construct_s"), "s"),
        "operators.hidden_jobs": (serve("hidden_jobs"), "count"),
        "catalyst.plan_s": (serve("plan_s"), "s"),
        "catalyst.exchanges": (serve("exchanges"), "count"),
        "catalyst.broadcasts": (serve("broadcasts"), "count"),
        "catalyst.scans": (serve("scans"), "count"),
        "scheduler.jobs": (serve("jobs"), "count"),
        "scheduler.stages": (serve("stages"), "count"),
        "scheduler.tasks": (serve("tasks"), "count"),
        "exec.run_s": (run_s, "s"),
        "exec.task_run_s": (task_run_s, "s"),
        "exec.task_cpu_s": (per_pass(lambda r: ex(r, "task_cpu_s")), "s"),
        "exec.gc_s": (per_pass(lambda r: ex(r, "gc_s")), "s"),
        "exec.core_util": (task_run_s / (run_s * b.cores) if run_s else 0.0, "ratio"),
        "exec.input_mb": (per_pass(lambda r: ex(r, "input_bytes")) / 1e6, "MB"),
        "exec.shuffle_write_mb": (per_pass(lambda r: ex(r, "shuffle_write_bytes")) / 1e6, "MB"),
        "exec.spill_mb": (per_pass(lambda r: ex(r, "spill_bytes")) / 1e6, "MB"),
        "cache.cold_artifacts": (cold_artifacts, "count"),
        "cache.cold_write_mb": (cold_bytes / 1e6, "MB"),
        "cache.warm_write_mb": (b.warm_index_write / 1e6, "MB"),
        "prep.convert_s": (per_pass(lambda r: r.get("prep_s", 0) if r["op"] == CONVERT else 0), "s"),
        "prep.compact_s": (per_pass(lambda r: r.get("prep_s", 0) if r["op"] == COMPACT else 0), "s"),
        "prep.files_in": (prep_cold("files_in"), "count"),
        "prep.files_out": (prep_cold("files_out"), "count"),
        "prep.bytes_in": (prep_cold("bytes_in"), "bytes"),
        "prep.bytes_out": (prep_cold("bytes_out"), "bytes"),
        "streaming.batches": (stream("batches"), "count"),
        "streaming.add_batch_s": (stream("add_batch_s"), "s"),
        "streaming.commit_s": (stream("commit_s"), "s"),
        "streaming.state_commit_s": (stream("state_commit_s"), "s"),
        "streaming.state_rows": (stream("state_rows"), "count"),
        "trace.bench_self_s": (self_times(spans).get("op", 0.0) / n_pass, "s"),
        "trace.overhead_frac": (_median(traced_pass) / _median(plain_pass) - 1 if plain_pass else 0.0, "ratio"),
        "check.s": (b.check_s, "s"),
    }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ under {ROOT}: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[a.workload]
    inputs = os.path.join(WORK, "inputs", f"{wl.name}-seed{a.seed}")
    gen.generate(inputs, wl.sf, a.seed, wl.csv_shards, wl.parquet_shards)
    os.utime(inputs)
    cached = sorted(
        (os.path.join(WORK, "inputs", d) for d in os.listdir(os.path.join(WORK, "inputs"))),
        key=os.path.getmtime,
    )
    for old in cached[:-INPUT_CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=os.path.join(WORK, "runs"))
    settings = pin_env(run_dir)
    b = Bench(wl, inputs, run_dir, a.seed, a.seconds, bool(a.trace))
    b.cores = int(settings["SPARK_GRAFT_CPUS"])

    def on_watchdog(_sig, _frame):
        print(f"run exceeded {WATCHDOG_S}s; killing its processes", file=sys.stderr)
        for p in _descendants(os.getpid()):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    signal.signal(signal.SIGALRM, on_watchdog)
    signal.alarm(WATCHDOG_S)
    try:
        b.setup()
        b.run()
        b.check()
        b.peak_rss_mb = b.jvm_peak_rss_mb()
    finally:
        b.teardown()
    if a.trace:
        from tracing import parse_event_log

        exec_by_group = {}
        for f in os.listdir(b.event_dir):
            with open(os.path.join(b.event_dir, f)) as fh:
                exec_by_group.update(parse_event_log(fh))
        metrics = per_layer(b, exec_by_group)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_file = os.path.join(WORK, "traces", f"{wl.name}-seed{a.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"spans": b.tracer.to_json(), "ops": b.records}, fh, default=str)
    else:
        metrics = end_to_end(b)
    shutil.rmtree(run_dir, ignore_errors=True)
    signal.alarm(0)
    phases = {"cold": b.cold_pass_s, "warmup": b.warmup_s, "warm": b.warm_s, "check": b.check_s}
    print("phase seconds: " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()), file=sys.stderr)
    # streaming ops run their stream inside the builder call, so they are
    # left out of the construct / plan / execute split
    warm = [r for r in b.records if r["phase"] == "warm" and "construct_s" in r and r["op"] not in STREAM_SOURCE]
    split = {k: sum(r[k] for r in warm) for k in ("construct_s", "plan_s", "execute_s")}
    total = sum(split.values()) or 1.0
    print("warm serve split: " + " ".join(f"{k}={v / total:.0%}" for k, v in split.items()), file=sys.stderr)
    for r in b.records:
        if r["phase"] in ("cold", "warmup"):
            print(f"  {r['phase']:6s} {r['op']:28s} {r['latency_s']:.2f}s", file=sys.stderr)
    for k, v in b.check_times.items():
        print(f"  check  {k:28s} {v:.2f}s", file=sys.stderr)
    for op in b.wl.kinds:
        xs = [r["latency_s"] for r in b.records if r["phase"] == "warm" and r["op"] == op]
        print(f"  warm   {op:28s} " + " ".join(f"{x:.3f}" for x in xs), file=sys.stderr)
    for f in b.failures:
        print(f"FAILED {f}", file=sys.stderr)
    warm = [r for r in b.records if r["phase"] == "warm"]
    print(json.dumps({"settings": {**settings, "workload": wl.name, "seed": a.seed, "warm_ops": len(warm)}}))
    for k, (v, unit) in metrics.items():
        print(f"{k:28s} {v:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": not b.failures,
                "attempted": b.attempted,
                "failed": len(b.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
