"""CDC ingest-and-validate benchmark: one workload end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  In order, it:

1. generates the workload's change stream from ``--seed`` (``gen.py``);
2. starts Spark, creates the tables and warms up: the first batches of the
   stream go through the same public calls, then one ``run_validation``;
3. times the ingest of the remaining batches, one public call per batch,
   each followed by ``LakeTable.maybe_compact()``;
4. validates the result with ``validation.pipeline.run_validation`` against
   a reference with a seeded number of rows removed, altered and added;
5. checks the table against DuckDB's own computation from the input files
   (``oracle.py``) and the validator's counts against the seeded ones.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` (batch applies and validations) and ``metrics``
(end-to-end metrics with ``--trace 0``; per-layer metrics from a spanned
run with ``--trace 1``, see ``spans.py``).  ``--seconds`` sizes the timed
stream, not a clock: the timed batch count each workload lists is for 12 s
and scales with ``--seconds``, so two commits always do identical work.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROC_T0 = time.monotonic() - _process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

# the program under test; a directory without it fails here, before any output
import data_migration_validator_spark  # noqa: E402,F401

import oracle  # noqa: E402
from gen import Shape, generate  # noqa: E402

SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]


# --------------------------------------------------------------------- #
# workloads: each drives the program only through its public entry points
# --------------------------------------------------------------------- #
class Workload:
    name: str
    shape: Shape
    warm_batches: int  # leading batches applied during set-up
    keys: list[str]
    call: str  # span name of the per-batch public call

    def __init__(self, spark, root: str, events_dir: str, cores: int):
        self.spark, self.root, self.events_dir = spark, root, events_dir
        self.cores = cores

    def batch(self, b: int):
        return self.spark.read.parquet(
            os.path.join(self.events_dir, f"batch_hint={b}")
        )

    def compact(self) -> None:
        for t in self.tables.values():
            t.maybe_compact()

    def read(self):
        (t,) = self.tables.values()
        return t.read()

    def expected(self, con, batch_ids):
        return oracle.lww_state(con, self.events_dir, batch_ids, self.keys)

    def counts(self, out) -> dict:
        """Counts the traced run keeps from the per-batch call's result."""
        return {}


class FanoutSmallBatches(Workload):
    """Runs by name but is not listed in ``BENCHMARK.json``: on a 4-core
    host one run takes over two minutes (see README)."""

    name = "fanout_small_batches"
    shape = Shape(
        "zipf", batches=5, batch_events=12_000, preload_events=2_000,
        tables=8, repos=400, paths=64, zipf_s=1.1, delete_share=0.1,
    )
    warm_batches = 3
    keys = ["table_name", "repo", "path"]
    call = "cdc.demux"

    def __init__(self, *a):
        super().__init__(*a)
        from data_migration_validator_spark.lake import LakeTable

        self.tables = {
            f"t{i}": LakeTable.create(
                self.spark, os.path.join(self.root, f"t{i}"), SCHEMA,
                ["repo", "path"], properties={"write.merge.mode": "mor"},
            )
            for i in range(self.shape.tables)
        }

    def apply(self, b):
        from data_migration_validator_spark.cdc.demux import demux_batch

        # gang path: more than one worker, at most one per core
        return demux_batch(self.tables, self.batch(b), batch_id=b,
                           max_workers=self.cores)

    def counts(self, out):
        return {"gang": any(isinstance(v, dict) and v.get("gang") for v in out.values())}

    def read(self):
        from functools import reduce

        from pyspark.sql import functions as F

        return reduce(
            lambda a, b: a.unionByName(b),
            [t.read().select(F.lit(n).alias("table_name"), *[c for c, _ in SCHEMA])
             for n, t in self.tables.items()],
        )


class LwwBulkFrontier(Workload):
    name = "lww_bulk_frontier"
    shape = Shape(
        "frontier", batches=9, batch_events=15_000, preload_events=2_000,
        paths=2048, insert_share=0.5, delete_share=0.05,
        recent_keys=512.0, recent_window=2048,
    )
    warm_batches = 3
    keys = ["repo", "path"]
    call = "cdc.replay"

    def __init__(self, *a):
        super().__init__(*a)
        from data_migration_validator_spark.lake import LakeTable

        self.tables = {"t": LakeTable.create(
            self.spark, os.path.join(self.root, "t"), SCHEMA, ["repo", "path"])}

    def apply(self, b):
        from data_migration_validator_spark.cdc.replay import replay

        return replay(self.tables["t"], self.events_dir, batch_ids=[b])


class Scd2History(Workload):
    name = "scd2_history"
    shape = Shape(
        "zipf", batches=7, batch_events=8_000, preload_events=2_000,
        repos=300, paths=64, zipf_s=1.1, delete_share=0.1,
    )
    warm_batches = 3
    keys = ["repo", "path", "valid_from_seq"]
    call = "cdc.scd"

    def __init__(self, *a):
        super().__init__(*a)
        from data_migration_validator_spark.cdc.scd import make_scd2_table

        self.tables = {"t": make_scd2_table(
            self.spark, os.path.join(self.root, "t"), ["repo", "path"],
            SCHEMA[2:])}

    def apply(self, b):
        from data_migration_validator_spark.cdc.scd import scd2_apply

        return scd2_apply(self.tables["t"], self.batch(b), batch_id=b)

    def counts(self, out):
        return {"versions_opened": int(out.get("versions_opened", 0))}

    def expected(self, con, batch_ids):
        return oracle.scd2_state(con, self.events_dir, batch_ids)


WORKLOADS = {w.name: w for w in (FanoutSmallBatches, LwwBulkFrontier, Scd2History)}


# --------------------------------------------------------------------- #
# host-side readings (/proc) and JVM readings (py4j)
# --------------------------------------------------------------------- #
def _stat_fields(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """(CPU seconds of ``root_pid`` and all its descendants, CPU seconds of
    ``root_pid`` alone).  Each process counts user + system time plus that
    of its children already reaped, so the total only grows."""
    ppid, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            f = _stat_fields(d)
        except OSError:  # exited while listing
            continue
        ppid[int(d)] = int(f[1])
        cpu[int(d)] = [int(x) for x in f[11:15]]
    kids: dict = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += sum(cpu.get(p, (0,)))
        todo.extend(kids.get(p, []))
    hz = os.sysconf("SC_CLK_TCK")
    own = cpu.get(root_pid, [0, 0])
    return total / hz, (own[0] + own[1]) / hz


def host_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d[:8]))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def jvm_gc_s(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


# --------------------------------------------------------------------- #
# the run
# --------------------------------------------------------------------- #
class Run:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.applied: list[int] = []
        self.tracer = None

    def op(self, fn, *a):
        """One counted operation; a failure is counted, reported on
        stderr, and the run goes on."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext({"attrs": {}})

    def ingest_batch(self, wl, b) -> float:
        t = time.monotonic()
        with self.span(wl.call) as rec:
            out = self.op(wl.apply, b)
            if out is not None:
                self.applied.append(b)
                rec["attrs"].update(wl.counts(out))
        wl.compact()
        return time.monotonic() - t

    def validate(self, wl, ref_df, tgt_df):
        from data_migration_validator_spark.validation.pipeline import run_validation

        def go():
            reports = run_validation(ref_df, tgt_df, wl.keys)
            reports["annotated"].unpersist()
            return reports["summary"]

        return self.op(go)


def start_spark(work: str, cores: int, traced: bool):
    # the Python workers import the program too: put the checkout on their
    # path explicitly, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway's handshake files land here
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": tmp,
        # a fixed young generation: G1's adaptive Eden sizing otherwise
        # moves the JVM's peak resident set by ~20% between identical runs
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn768m",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    from data_migration_validator_spark.session import get_spark

    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--inject-fault", choices=("table", "reference"), default=None,
        help="self-test of the checks: corrupt the expected table or the "
        "reference's counts; the run must then report correct=false",
    )
    args = ap.parse_args(argv)
    cls = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the cores: the driver thread, the JIT and GC threads and
    # the Python workers keep the other half, so the runs measure the program
    # and not the scheduler (the workloads are driver-bound; see README)
    cores = max(1, nproc // 2)
    work = os.path.join(HERE, ".work", f"{cls.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t = time.monotonic()
        shape = _sized(cls.shape, cls.warm_batches, args.seconds)
        stream = generate(shape, args.seed, os.path.join(work, "events"))
        gen_s = time.monotonic() - t
        spark = start_spark(work, cores, bool(args.trace))
        result = run(cls, spark, work, cores, args, stream, gen_s)
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _sized(shape: Shape, warm: int, seconds: int) -> Shape:
    """The timed stream for a ``seconds`` budget; the ``shape.batches`` the
    workload lists are sized for the default 12 s."""
    from dataclasses import replace

    timed = shape.batches - (warm - 1 if shape.preload_events else warm)
    scaled = max(2, round(timed * seconds / 12))
    return replace(shape, batches=shape.batches - timed + scaled)


def run(cls, spark, work, cores, args, stream, gen_s) -> dict:
    r = Run()
    wl = cls(spark, os.path.join(work, "tables"), os.path.join(work, "events"), cores)
    sizes = stream["batch_events"]
    warm_ids = list(range(cls.warm_batches))
    timed_ids = list(range(cls.warm_batches, len(sizes)))
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    # ---- set-up: warm-up through the same calls, plus one validation ----
    # batch 0 is small: the first call of each kind pays JIT and codegen
    # whatever its size, so the warm-up validation runs on the small table
    t_warm = time.monotonic()
    warm_s = [r.ingest_batch(wl, warm_ids[0])]
    warm_df = wl.read()
    t = time.monotonic()
    r.validate(wl, warm_df, warm_df)
    warm_s.append(time.monotonic() - t)
    warm_s += [r.ingest_batch(wl, b) for b in warm_ids[1:]]

    t_first = time.monotonic()
    setup_s = t_first - PROC_T0 - gen_s
    if args.trace:
        r.tracer = _install_tracer(spark)
    host0, gc0 = host_cpu(), jvm_gc_s(spark)
    cpu0, _ = tree_cpu_s(jvm_pid)

    # ---- timed ingest ----
    batch_s = []
    with r.span("ingest"):
        for b in timed_ids:
            batch_s.append(r.ingest_batch(wl, b))
    ingest_s = time.monotonic() - t_first
    cpu1, _ = tree_cpu_s(jvm_pid)
    timed_events = sum(sizes[b] for b in timed_ids)
    roots = [t.root for t in wl.tables.values()]
    disk = sum(dir_bytes(p) for p in roots)
    lake_live = {
        "files": sum(t.detail()["num_files"] for t in wl.tables.values()),
        "deltas": sum(t.delta_detail()["num_delta_files"] for t in wl.tables.values()),
    }

    # ---- reference for the validator, from DuckDB's own state ----
    con = oracle.connect()
    expected = wl.expected(con, sorted(r.applied))
    ref_path = os.path.join(work, "reference.parquet")
    want = oracle.perturbed_reference(expected, wl.keys, args.seed, ref_path)
    if args.inject_fault == "reference":
        want["mismatches"] += 1
    ref_df = spark.read.parquet(ref_path)
    tgt_df = wl.read()

    # ---- timed validation ----
    py0 = _python_cpu(jvm_pid)
    t = time.monotonic()
    with r.span("validation") as vrec:
        summary = r.validate(wl, ref_df, tgt_df)
    validate_s = time.monotonic() - t
    vrec["attrs"]["python_worker_cpu_s"] = _python_cpu(jvm_pid) - py0
    host1, gc1 = host_cpu(), jvm_gc_s(spark)

    # ---- independent check ----
    table_dir = os.path.join(work, "table_dump")
    tgt_df.write.parquet(table_dir)
    if args.inject_fault == "table":
        expected = expected.slice(1)
    cmp = oracle.compare(con, expected, table_dir)
    checks = {
        "table_equals_duckdb": cmp["missing"] == 0 and cmp["extra"] == 0
        and cmp["table_rows"] == cmp["expected_rows"],
        "validator_counts": summary is not None and all(
            summary[k] == want[k]
            for k in ("matches", "mismatches", "src_extras", "tgt_extras")
        ),
    }
    if cls is Scd2History:
        checks["history_rows_equal_non_deletes"] = cmp["table_rows"] == (
            oracle.non_delete_events(con, wl.events_dir, sorted(r.applied))
        )
    con.close()
    correct = all(checks.values())

    e2e = {
        "setup_s": (setup_s, "s"),
        "ingest_events_per_s": (timed_events / ingest_s, "events/s"),
        "batch_commit_p50_s": (statistics.median(batch_s), "s"),
        "validate_rows_per_s": (
            (want["rows"] + cmp["expected_rows"]) / validate_s, "rows/s"),
        "ingest_cpu_s_per_mevent": ((cpu1 - cpu0) / timed_events * 1e6, "s/Mevent"),
        "disk_bytes_per_event": (disk / sum(sizes), "B/event"),
        "peak_rss_mb": (vm_hwm_mb(jvm_pid), "MB"),
    }
    info = {
        "workload": cls.name, "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)), "cores": cores,
        "events": sum(sizes), "timed_events": timed_events,
        "batch_s": [round(x, 4) for x in batch_s],
        "spark_start_s": t_warm - PROC_T0 - gen_s, "warm_s": [round(x, 3) for x in warm_s],
        "ingest_s": ingest_s, "validate_s": validate_s, "gen_s": gen_s,
        "host.steal_frac": steal_frac(host0, host1), "jvm.gc_s": gc1 - gc0,
        "checks": checks, "compare": cmp, "expected_summary": want,
        "summary": {k: summary[k] for k in want if k in summary} if summary else None,
    }
    if r.tracer is not None:
        r.tracer.unwrap()
        r.tracer.resolve()
        metrics = _per_layer(r.tracer, lake_live, cores, len(timed_ids),
                             timed_events, info)
        _write_trace(cls.name, args.seed, r.tracer.spans, metrics, e2e, info)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print("perfbench: " + json.dumps({**info, "e2e": {k: v for k, (v, _) in e2e.items()}}),
          file=sys.stderr)
    return {"correct": correct, "attempted": r.attempted, "failed": r.failed,
            "metrics": metrics}


def _python_cpu(jvm_pid: int) -> float:
    total, own = tree_cpu_s(jvm_pid)
    return total - own


# --------------------------------------------------------------------- #
# traced run
# --------------------------------------------------------------------- #
def _install_tracer(spark):
    from importlib import import_module

    from data_migration_validator_spark.lake.table import LakeTable

    # by module path: the package re-exports a function named ``replay``
    replay_mod = import_module("data_migration_validator_spark.cdc.replay")
    demux_mod = import_module("data_migration_validator_spark.cdc.demux")

    from spans import Tracer

    def merge_counts(rec, out):
        rec["attrs"]["files_kept"] = int(out.get("files_kept", 0) or 0)
        rec["attrs"]["files_rewritten"] = int(out.get("files_rewritten", 0) or 0)

    def compact_counts(rec, out):
        rec["attrs"]["ran"] = not out.get("skipped", False)

    tr = Tracer(spark)
    tr.wrap(replay_mod, "apply_batch", "cdc.apply")
    tr.wrap(demux_mod, "apply_batch", "cdc.apply")
    tr.wrap(LakeTable, "merge", "lake.merge", merge_counts)
    tr.wrap(LakeTable, "has_batch", "lake.has_batch")
    tr.wrap(LakeTable, "commit_staged_deltas", "lake.commit_staged")
    tr.wrap(LakeTable, "maybe_compact", "lake.maybe_compact")
    tr.wrap(LakeTable, "compact", "lake.compact", compact_counts)
    return tr


def _per_layer(tracer, lake_live, cores, n_batches, events, info) -> dict:
    from spans import inclusive

    spans = tracer.spans
    m: dict = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    def named(name):
        return [s for s in spans if s["name"] == name]

    def wall(sel):
        return sum(s["end"] - s["start"] for s in sel)

    def spark(sel, key):
        return sum(inclusive(spans, s)[key] for s in sel)

    for name in ("cdc.apply", "cdc.demux", "cdc.scd"):
        sel = named(name)
        put(f"{name}.wall_s", wall(sel), "s")
        put(f"{name}.jobs_per_batch", spark(sel, "jobs") / n_batches, "jobs/batch")
        if name != "cdc.scd":
            put(f"{name}.driver_gap_s", wall(sel) - spark(sel, "task_s") / cores, "s")
        if name != "cdc.demux":
            put(f"{name}.shuffle_bytes_per_event",
                spark(sel, "shuffle_write") / events, "B/event")
    put("cdc.demux.gang_batches",
        sum(1 for s in named("cdc.demux") if s["attrs"].get("gang")), "count")
    put("cdc.scd.versions_opened",
        sum(s["attrs"].get("versions_opened", 0) for s in named("cdc.scd")), "count")

    merges = named("lake.merge")
    kept = sum(s["attrs"]["files_kept"] for s in merges)
    rewritten = sum(s["attrs"]["files_rewritten"] for s in merges)
    put("lake.merge.wall_s", wall(merges), "s")
    put("lake.merge.files_rewritten", rewritten, "count")
    put("lake.merge.files_kept", kept / (kept + rewritten) if kept + rewritten else 0.0, "share")
    put("lake.merge.files_kept_base", kept + rewritten, "count")
    put("lake.has_batch.calls", len(named("lake.has_batch")), "count")
    put("lake.has_batch.wall_s", wall(named("lake.has_batch")), "s")
    put("lake.commit_staged.wall_s", wall(named("lake.commit_staged")), "s")
    compacts = named("lake.compact")
    put("lake.compact.calls", sum(1 for s in compacts if s["attrs"]["ran"]), "count")
    put("lake.compact.wall_s", wall(compacts), "s")
    put("lake.files_live", lake_live["files"], "count")
    put("lake.delta_files_live", lake_live["deltas"], "count")

    val = named("validation")
    put("validation.wall_s", wall(val), "s")
    put("validation.jobs", spark(val, "jobs"), "count")
    put("validation.shuffle_bytes", spark(val, "shuffle_write"), "B")
    put("validation.task_s", spark(val, "task_s"), "s")
    put("validation.driver_gap_s", wall(val) - spark(val, "task_s") / cores, "s")
    put("validation.python_worker_cpu_s", val[0]["attrs"]["python_worker_cpu_s"], "s")

    roots = [s for s in spans if s["parent"] is None]
    put("spark.jobs", spark(roots, "jobs"), "count")
    put("spark.stages", spark(roots, "stages"), "count")
    put("spark.tasks", spark(roots, "tasks"), "count")
    put("spark.task_cpu_s", spark(roots, "cpu_s"), "s")
    put("jvm.gc_s", info["jvm.gc_s"], "s")
    put("host.steal_frac", info["host.steal_frac"], "share")
    return m


def _write_trace(name, seed, spans, metrics, e2e, info) -> None:
    out = os.path.join(HERE, ".traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{name}-seed{seed}.json"), "w") as f:
        json.dump({"info": info, "e2e_traced": {k: v for k, (v, _) in e2e.items()},
                   "per_layer": metrics, "spans": spans}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
