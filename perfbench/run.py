"""Benchmark harness for the dbt_bigquery_udf_spark engine.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the repository root.  One run is one fresh process with its
own empty warehouse under ``perfbench/.work/``: it generates the inputs
from ``--seed``, sets up the engine (timed as ``setup_s``), then issues
ops one at a time (a closed loop with one client) in rounds, each round
issuing every op kind of the workload once, until at least ``--seconds``
of op time and at least three rounds have been measured; whole rounds keep
the mix of ops the same in every run.  Every op's output is checked
outside the timed region.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.

A traced run measures three Spark sessions of the same process in turn:
untraced, traced (the Spark event log on), untraced again; the traced
one gets half of ``--seconds`` and of the rounds, the others a quarter
each.  The later sessions reuse a JVM the earlier ones warmed, so
``tracing.overhead_pct`` compares the traced session's median op
latency with the mean of the two untraced sessions' medians, one from
either side of it.  The per-layer metrics come from the traced session,
whose event log is complete once the session has stopped.  Each run
also writes its raw per-op samples, and per-op-kind percentiles, to
``perfbench/.runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGING_ROOTS = (
    os.path.join(ROOT, ".stream-staging"),
    os.path.join(ROOT, ".fmt-staging"),
)
DEFAULT_SF = 0.01
DRIVER_MEMORY = "4g"
# Set-up runs this many rounds before measuring: an op's first call
# costs 2-10x its later calls, and the next two rounds are still 10-35%
# slower than later ones while the JVM compiles.
WARMUP_ROUNDS = 3
# ...and measures at least this many rounds, so that a slow host does not
# change how many samples each percentile is taken from.
MIN_ROUNDS = 3

END_TO_END = {
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_ops_s": "1/s",
    "storage_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "queries.plan_s": "s",
    "queries.collect_s": "s",
    "queries.rows_out": "count",
    "spark.sql_executions": "count",
    "spark.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_utilization": "ratio",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "project.load_s": "s",
    "engine.build_s": "s",
    "engine.full_build_s": "s",
    "engine.function_s": "s",
    "engine.table_function_s": "s",
    "engine.table_s": "s",
    "engine.view_s": "s",
    "engine.models_built": "count",
    "engine.models_skipped": "count",
    "engine.thread_overlap": "ratio",
    "index_store.bytes_written": "bytes",
    "index_store.files_written": "count",
    "staging.bytes_added": "bytes",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
    "tracing.overhead_pct": "%",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = float(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _files(roots) -> dict[int, int]:
    """inode -> size of every regular file under ``roots``."""
    out: dict[int, int] = {}
    stack = [r for r in roots if os.path.isdir(r)]
    while stack:
        with os.scandir(stack.pop()) as it:
            for e in it:
                if e.is_dir(follow_symlinks=False):
                    stack.append(e.path)
                elif e.is_file(follow_symlinks=False):
                    st = e.stat(follow_symlinks=False)
                    out[st.st_ino] = st.st_size
    return out


def _new_bytes(before: dict[int, int], after: dict[int, int]) -> tuple[int, int]:
    new = [size for ino, size in after.items() if ino not in before]
    return sum(new), len(new)


def _staging_entries() -> set[str]:
    return {
        os.path.join(r, d) for r in STAGING_ROOTS if os.path.isdir(r) for d in os.listdir(r)
    }


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        ref = ref[5:]
        path = os.path.join(ROOT, ".git", ref)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.strip().endswith(ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, stack = set(), [pid]
    while stack:
        for c in children.get(stack.pop(), ()):
            if c not in out:
                out.add(c)
                stack.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(sessions) -> None:
    """Stop every session, then the JVM and every process it started
    (Python workers), and wait for all of them to end."""
    from pyspark import SparkContext

    for spark in sessions:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    procs = _descendants(os.getpid())
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _pct(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def _per_kind(ops: list[dict]) -> dict:
    """Op count and latency p50/p90 per op kind (a serve_mix query, or a
    udf_dag_build ``select``/``full``/``rebuild``): figures that do not
    depend on how the workload weights its kinds."""
    walls: dict[str, list[float]] = {}
    for o in ops:
        walls.setdefault(o["op"].partition(":")[0], []).append(o["wall_s"])
    return {
        k: {"n": len(v), "p50_s": _pct(v, 50), "p90_s": _pct(v, 90)}
        for k, v in sorted(walls.items())
    }


class Run:
    def __init__(self, args) -> None:
        import workloads

        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.work = os.path.join(HERE, ".work", tag)
        self.w = workloads.WORKLOADS[args.workload](args.seed, self.work, args.sf)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.environ.update(
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            TMPDIR=os.path.join(self.work, "tmp"),
            TZ="UTC",
        )
        time.tzset()
        self.sessions = []
        self.jvm_pid = None
        self.setup_s = None  # process start to the first measured op
        self.excluded_s = 0.0  # data generation and output checks
        self.staging_before = _staging_entries()

    # -- one Spark session: set-up, then the measured loop ------------------

    def _phase(
        self, label: str, traced: bool, seconds: float, warmup_rounds: int, min_rounds: int
    ) -> dict:
        from dbt_bigquery_udf_spark import get_spark

        warehouse = os.path.join(self.work, label, "warehouse")
        os.environ["SPARK_WAREHOUSE_DIR"] = warehouse
        # keep the JVM's scratch files inside the checkout (no /tmp)
        confs = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        }
        if traced:
            log_dir = os.path.join(self.work, label, "eventlog")
            os.makedirs(log_dir)
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{self.w.name}", extra_confs=confs)
        session_s = time.perf_counter() - t0
        self.sessions.append(spark)
        if self.jvm_pid is None:
            self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.w.setup(spark)
        rounds = self.w.rounds()
        warmup = []
        for _ in range(warmup_rounds):
            for op in next(rounds):
                self.w.reset(op)
                warmup.append(self.w.run_op(op))
        setup_s = time.perf_counter() - t0
        t = time.perf_counter()
        warm_ok = all([self._check(r) for r in warmup])
        self.excluded_s += time.perf_counter() - t

        if self.setup_s is None:
            self.setup_s = _process_age_s() - self.excluded_s
        ops, measured, n_rounds = [], 0.0, 0
        while measured < seconds or n_rounds < min_rounds:
            for op in next(rounds):
                rec = self._measure(op, warehouse if traced else None)
                ops.append(rec)
                measured += rec["wall_s"]
            n_rounds += 1
        return {
            "label": label,
            "traced": traced,
            "setup_s": setup_s,
            "session_s": session_s,
            "warmup": [{"op": r["op"], "wall_s": r["wall_s"]} for r in warmup],
            "warmup_ok": warm_ok,
            "ops": ops,
            "warehouse": warehouse,
            "log_dir": confs.get("spark.eventLog.dir"),
        }

    def _measure(self, op: str, warehouse: str | None) -> dict:
        """One timed op, then its check; with ``warehouse`` also the
        files the op wrote there and into the staging directories."""
        self.w.reset(op)
        if warehouse:
            wh0, st0 = _files((warehouse,)), _files(STAGING_ROOTS)
        start = time.time()
        try:
            rec = self.w.run_op(op)
        except Exception as exc:  # noqa: BLE001 — an op that raises is a failed op
            rec = {"op": op, "kind": "error", "wall_s": time.time() - start,
                   "error": f"{type(exc).__name__}: {exc}"[:500]}
        end = time.time()
        rec["ok"] = "error" not in rec and self._check(rec)
        rec.update(start=start, end=end)
        if warehouse:
            rec["written_bytes"], rec["written_files"] = _new_bytes(
                wh0, _files((warehouse,))
            )
            rec["staging_bytes"] = _new_bytes(st0, _files(STAGING_ROOTS))[0]
        return rec

    def _check(self, rec: dict) -> bool:
        try:
            return self.w.check(rec)
        except Exception as exc:  # noqa: BLE001 — a check that raises fails the op
            rec["error"] = f"check: {type(exc).__name__}: {exc}"[:500]
            return False

    def _relocate_inputs(self, label: str) -> None:
        """Point the workload at a hard-linked copy of its inputs, so the
        second session's persisted indexes (named after the input
        directory) start empty like the first session's did."""
        src = self.w.sf_dir
        dst = os.path.join(self.work, label, "data", os.path.basename(src))
        os.makedirs(dst)
        for f in os.listdir(src):
            os.link(os.path.join(src, f), os.path.join(dst, f))
        self.w.sf_dir = dst

    # -- metrics ------------------------------------------------------------

    def _end_to_end(self, phase: dict) -> dict:
        ops = phase["ops"]
        walls = [o["wall_s"] for o in ops]
        good = sum(1 for o in ops if o["ok"])
        staged = _staging_entries() - self.staging_before
        stored = sum(_files((phase["warehouse"], *staged)).values())
        return {
            "latency_p50_s": _pct(walls, 50),
            "latency_p90_s": _pct(walls, 90),
            "throughput_ops_s": good / sum(walls),
            "storage_mb": stored / 1e6,
            "setup_s": self.setup_s,
        }

    def _per_layer(self, phase: dict, untraced: list[dict]) -> dict:
        import eventlog

        ops = phase["ops"]
        windows = [(o["start"], o["end"]) for o in ops]
        spark_ops = eventlog.attribute(eventlog.read_events(phase["log_dir"]), windows)
        m = {k: 0.0 for k in PER_LAYER}
        queries = [o for o in ops if o["kind"] == "query"]
        if queries:
            m["queries.plan_s"] = _median([o["plan_s"] for o in queries])
            m["queries.collect_s"] = _median([o["collect_s"] for o in queries])
            m["queries.rows_out"] = _mean([o["rows_out"] for o in queries])
        for key in eventlog.COUNTERS:
            m[f"spark.{key}"] = _mean([s[key] for s in spark_ops])
        m["spark.driver_gap_s"] = _median([s["driver_gap_s"] for s in spark_ops])
        wall = sum(o["wall_s"] for o in ops)
        m["spark.slot_utilization"] = (
            sum(s["executor_run_s"] for s in spark_ops) / (wall * self.cpus)
        )
        builds = [o for o in ops if "build_s" in o]
        if builds:
            m["project.load_s"] = _median([o["load_s"] for o in builds])
            m["engine.build_s"] = _median([o["build_s"] for o in builds])
            m["engine.full_build_s"] = _median(
                [o["wall_s"] for o in builds if o["kind"] == "full"]
            )
            for kind in ("function", "table_function", "table", "view"):
                m[f"engine.{kind}_s"] = _mean([o["model_s"].get(kind, 0.0) for o in builds])
            m["engine.models_built"] = _mean([o["models_built"] for o in builds])
            m["engine.models_skipped"] = _mean([o["models_skipped"] for o in builds])
            build_wall = sum(o["build_s"] for o in builds)
            m["engine.thread_overlap"] = (
                sum(sum(o["model_s"].values()) for o in builds) / build_wall
            )
        m["index_store.bytes_written"] = _mean([o["written_bytes"] for o in ops])
        m["index_store.files_written"] = _mean([o["written_files"] for o in ops])
        m["staging.bytes_added"] = _mean([o["staging_bytes"] for o in ops])
        m["jvm.peak_rss_mb"] = self.jvm_peak_mb
        m["python.peak_rss_mb"] = _peak_rss_mb("self")
        base = _mean([_median([o["wall_s"] for o in p["ops"]]) for p in untraced])
        traced = _median([o["wall_s"] for o in ops])
        m["tracing.overhead_pct"] = 100.0 * (traced - base) / base
        return m

    # -- the run ------------------------------------------------------------

    def execute(self) -> dict:
        args = self.args
        t = time.perf_counter()
        self.w.prepare()
        self.excluded_s += time.perf_counter() - t
        phases: dict[str, dict] = {}
        try:
            if args.trace:
                # Each session measures its share of --seconds and of
                # MIN_ROUNDS.  Sessions after the first start in a JVM the
                # first one warmed: one round does their first calls.
                for label, share in (("untraced1", 0.25), ("traced", 0.5), ("untraced2", 0.25)):
                    warmup_rounds = 1 if phases else WARMUP_ROUNDS
                    if phases:
                        self.sessions[-1].stop()
                        self._relocate_inputs(label)
                    phases[label] = self._phase(
                        label, label == "traced", args.seconds * share,
                        warmup_rounds, max(1, round(MIN_ROUNDS * share)),
                    )
                main = phases["traced"]
            else:
                main = phases["run"] = self._phase(
                    "run", False, args.seconds, WARMUP_ROUNDS, MIN_ROUNDS
                )
            self.jvm_peak_mb = _peak_rss_mb(self.jvm_pid)
            if args.trace:
                untraced = [phases["untraced1"], phases["untraced2"]]
                metrics = self._per_layer(main, untraced)
                units = PER_LAYER
            else:
                metrics = self._end_to_end(main)
                units = END_TO_END
        finally:
            _stop_spark(self.sessions)
        failed = sum(1 for o in main["ops"] if not o["ok"])
        warm_ok = all(p["warmup_ok"] for p in phases.values())
        self._write_record(
            {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "cpus": self.cpus,
                "sf": args.sf,
                "input_rows": self.w.input_rows,
                "git_commit": _git_commit(),
                "setup_s": self.setup_s,
                "excluded_s": self.excluded_s,
                "metrics": metrics,
                "per_kind": _per_kind(main["ops"]),
                "phases": [
                    {
                        **{k: p[k] for k in ("label", "traced", "setup_s", "session_s", "warmup", "warmup_ok")},
                        "ops": [
                            {k: v for k, v in o.items() if not k.startswith("_")}
                            for o in p["ops"]
                        ],
                    }
                    for p in phases.values()
                ],
            }
        )
        return {
            "correct": warm_ok and failed == 0,
            "attempted": len(main["ops"]),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def _write_record(self, record: dict) -> None:
        runs = os.path.join(HERE, ".runs")
        os.makedirs(runs, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
        path = os.path.join(
            runs, f"{record['workload']}-seed{record['seed']}-trace{record['trace']}"
            f"-{stamp}-{os.getpid()}.json",
        )
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1, default=str)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in _staging_entries() - self.staging_before:
            shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------ self-check


def selfcheck() -> int:
    """Tiny runs of every workload, untraced and traced; asserts that each
    prints every metric of its kind, by name and unit, and no failures."""
    problems = []
    for name in ("serve_mix", "udf_dag_build"):
        for trace, expect in ((0, END_TO_END), (1, PER_LAYER)):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", "7", "--seconds", "2", "--trace", str(trace),
                "--sf", "0.001",
            ]
            proc = subprocess.run(
                cmd, cwd=ROOT, capture_output=True, text=True, timeout=600
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{name} trace={trace}: exit {proc.returncode}\n"
                                f"{proc.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != expect:
                problems.append(f"{name} trace={trace}: metrics {got} != {expect}")
            if not out["correct"] or out["failed"]:
                problems.append(f"{name} trace={trace}: incorrect output {out}")
            print(f"{name} trace={trace}: {out['attempted']} ops, "
                  f"{len(got)} metrics ok", file=sys.stderr)
    for p in problems:
        print(p, file=sys.stderr)
    print(json.dumps({"selfcheck": "fail" if problems else "ok"}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("serve_mix", "udf_dag_build"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="scale factor of the generated tables (below 0.01, "
                    "udf_dag_build also generates a smaller project)")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()

    for need in ("dbt_bigquery_udf_spark/__init__.py",
                 "examples/packages/compat_utils/dbt_project.yml"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    if args.selfcheck:
        return selfcheck()
    if args.workload is None:
        ap.error("--workload is required")
    sys.path[:0] = [HERE, ROOT]

    run = Run(args)
    try:
        result = run.execute()
    finally:
        run.cleanup()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
