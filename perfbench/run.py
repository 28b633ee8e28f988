#!/usr/bin/env python3
"""pqc benchmark: one closed-loop client driving a local[nproc] session.

Run from the repository root:

    python3 perfbench/run.py --workload images_validate --seed 1 --seconds 15 --trace 0

Workloads (``workloads.py``): ``images_validate`` (the production job
path of scripts/validate_job.py over the images fixture) and
``band_dedup`` (the dedup/similarity band queries). Inputs are
generated once per checkout under ``.bench_build/perfbench`` by a
prepare step that no metric includes; the seed picks the sample of
fixture rows the traced run's codec kernel probes use.

A run sets up (session start and fixture load, then one full warm-up
pass; ``setup_s`` runs from process start to the end of the warm-up,
so JVM launch and imports count), then times passes until
``--seconds`` have been measured, checking each pass's outputs
against ``refs.json`` with the clock stopped. ``--trace 1`` instead
runs, after the same set-up, the workload's layer probes, then an
untraced pass, a pass traced with Spark's event log on and another
untraced pass, and reports per-layer metrics.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics traced). ``--record-refs`` rewrites ``refs.json`` from the
current code instead.

The benchmark runs in a child of the process started by the command;
that parent waits for every process the run started (the JVM and
PySpark's worker daemon outlive the Python that started them) before
it exits.
"""

from __future__ import annotations

import os
import time

# Set in the child to the parent's start: CLOCK_MONOTONIC is shared by
# all processes, so set-up time counts from the command's start.
T0_ENV = "PERFBENCH_T0"
T_PROCESS = float(os.environ.get(T0_ENV) or time.monotonic())

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
REFS = os.path.join(HERE, "refs.json")
# One full warm-up pass, so the measured pass is the process's second.
# On a 4-core host that pass still runs 10-20% above passes 3-5; a
# second warm-up pass would not fit the benchmark's run budget.
WARMUP_PASSES = 1
# A traced run must end within 180 s of process start. Its probes stop
# starting queries early enough to leave three passes, each at most
# PASS_PER_WARMUP of the cold warm-up pass (measured: 0.4-0.6), and the
# roll-up and exit.
RUN_LIMIT_S = 155
PASS_PER_WARMUP = 0.6
FIXTURE_CACHE = "/tmp/pqc_fixtures"  # where pqc caches lazily built inputs


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# process tree: memory, and the processes a run leaves behind
# ---------------------------------------------------------------------------

PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 15


def process_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = process_children(), [], [pid]
    while todo:
        for kid in kids.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def reap_all() -> bool:
    """Reaps the exited children; False once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def supervise(argv: list[str]) -> int:
    """Runs the benchmark in a child and returns its exit code once
    every process it started has ended. The JVM exits when its stdin
    closes and PySpark's worker daemon, which moves itself to a process
    group of its own, when the JVM's pipe closes; both happen after the
    child has exited. As a child subreaper this process inherits those
    orphans, waits ``REAP_GRACE_S`` for them to end, then kills and
    reaps what is left."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    env = dict(os.environ, **{T0_ENV: repr(T_PROCESS)})
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv], env=env)
    # a terminated run still lets the child stop its session and clean up
    signal.signal(signal.SIGTERM, lambda *_: child.send_signal(signal.SIGTERM))
    code = child.wait()
    deadline = time.monotonic() + REAP_GRACE_S
    while reap_all():
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)
    return code



class RssSampler(threading.Thread):
    """Samples the summed RSS of this process and its descendants (the
    JVM and its Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    total += int(fh.read().rsplit(")", 1)[1].split()[21]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.peak = max(self.peak, self._tree_rss())
        return self.peak / (1024.0 * 1024.0)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


class Session:
    """The run's current SparkSession. A restart in the same process
    keeps the JVM, and so its JIT state, that the warm-up warmed."""

    def __init__(self):
        self.spark = None
        self.traced = False

    def start(self, trace: bool):
        self.spark, self.traced = start_session(trace), trace
        return self.spark

    def stop(self) -> str | None:
        """Stops the session; returns its event log's path if traced."""
        if self.spark is None:
            return None
        spark, self.spark = self.spark, None
        app_id = spark.sparkContext.applicationId
        if "pqc.registry" in sys.modules:
            # a query's pins are released when the next query starts,
            # which must not happen in a later session
            sys.modules["pqc.registry"].release_pins()
        spark.stop()
        return os.path.join(BUILD, "eventlog", app_id) if self.traced else None


def start_session(trace: bool):
    from pqc.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(os.path.join(BUILD, "eventlog"), exist_ok=True)
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(BUILD, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(nproc(), app_name="pqc-perfbench", extra_conf=extra)


def host_info(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "pyspark": pyspark.__version__,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def tmp_entries() -> set[str]:
    try:
        return set(os.listdir(FIXTURE_CACHE))
    except OSError:
        return set()


def remove_tmp_leftovers(before: set[str]) -> None:
    """pqc writes a package zip and lazily built caches under /tmp; drop
    what this run added so every run starts from the same state."""
    for name in tmp_entries() - before:
        path = os.path.join(FIXTURE_CACHE, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except OSError:
                pass
    if not before:
        try:
            os.rmdir(FIXTURE_CACHE)
        except OSError:
            pass
    try:
        os.remove(f"/tmp/pqc_pyfiles_{os.getpid()}.zip")
    except OSError:
        pass


# ---------------------------------------------------------------------------
# statistics and reporting
# ---------------------------------------------------------------------------


def summary(values: list[float]) -> dict:
    """Median and the highest percentile with >= 10 samples beyond it."""
    vals = sorted(values)
    out = {"n": len(vals), "median": statistics.median(vals)}
    if len(vals) >= 20:
        pct = 100 * (1 - 10 / len(vals))
        out[f"p{int(pct)}"] = vals[int(len(vals) * pct / 100) - 1]
    else:
        out["max"] = vals[-1]
    return out


def print_table(title: str, rows: list[tuple[str, str, str]]) -> None:
    print(f"== {title}")
    width = max((len(r[0]) for r in rows), default=0)
    for name, value, unit in rows:
        print(f"  {name:<{width}}  {value:>14}  {unit}")


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("images_validate", "band_dedup"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help="generate inputs and exit")
    ap.add_argument("--record-refs", action="store_true", help="rewrite refs.json")
    args = ap.parse_args(argv)
    if not (args.workload or args.prepare or args.record_refs):
        ap.error("--workload is required")
    return args


def check_checkout() -> None:
    if not os.path.isfile(os.path.join(ROOT, "pqc", "__init__.py")):
        raise SystemExit(f"perfbench: no pqc package under {ROOT}; run from a checkout")


def configure_env() -> None:
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    os.environ["PQC_LOCAL_DIR"] = os.path.join(BUILD, "spark-local")
    os.environ["PQC_DRIVER_JAVA_OPTS"] = "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")
    os.environ["TMPDIR"] = os.path.join(BUILD, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def ensure_prepared() -> float:
    """Generates the inputs if this checkout lacks them; returns the
    seconds that took, which no metric includes."""
    import workloads

    stamp = os.path.join(BUILD, "prepared.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if json.load(fh) == workloads.fixture_keys():
                return 0.0
    log("preparing inputs (once per checkout)")
    t = time.monotonic()
    subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"], check=True)
    return time.monotonic() - t


def do_prepare() -> None:
    import workloads

    before = tmp_entries()
    spark = start_session(trace=False)
    try:
        workloads.prepare(spark, BUILD)
    finally:
        spark.stop()
        remove_tmp_leftovers(before)
    with open(os.path.join(BUILD, "prepared.json"), "w") as fh:
        json.dump(workloads.fixture_keys(), fh)


def warm_up(spark, wl, inputs) -> None:
    import spans as tr

    for i in range(WARMUP_PASSES):
        res = wl.run_pass(spark, inputs, tr.Tracer(enabled=False), tag=f"warm{i}")
        wl.cleanup(res)
        if res.errors:
            raise RuntimeError(f"warm-up pass failed: {res.errors[0].detail}")


def main(argv=None) -> int:
    # a terminated run still stops its session and removes what it wrote,
    # also when the parent is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctypes.CDLL(None).prctl(PR_SET_PDEATHSIG, signal.SIGTERM, 0, 0, 0)
    args = parse_args(argv)
    check_checkout()
    configure_env()
    os.makedirs(BUILD, exist_ok=True)
    if args.prepare:
        do_prepare()
        return 0
    t_start = T_PROCESS + ensure_prepared()

    import workloads

    with open(os.path.join(BUILD, "prepared.json")) as fh:
        fixtures = json.load(fh)
    refs = {}
    if os.path.exists(REFS):
        with open(REFS) as fh:
            refs = json.load(fh)
    if args.record_refs:
        return record_refs(workloads, refs)

    wl = workloads.WORKLOADS[args.workload](BUILD, args.seed)
    before = tmp_entries()
    rss = RssSampler()
    rss.start()
    sess = Session()
    try:
        # set-up, one cold cycle timed from process start: imports and
        # JVM launch, fixture load, then the warm-up passes
        spark = sess.start(False)
        t_session = time.monotonic()
        inputs = wl.load(spark)
        t_loaded = time.monotonic()
        warm_up(spark, wl, inputs)
        t_warm = time.monotonic()
        setup = {
            "session.start_s": t_session - t_start,
            "fixtures.load_s": t_loaded - t_session,
            "warmup_s": t_warm - t_loaded,
        }
        info = {"workload": wl.name, "seed": args.seed, **host_info(spark), "fixtures": fixtures}
        print("host " + json.dumps(info))
        if args.trace:
            deadline = T_PROCESS + RUN_LIMIT_S - 3 * PASS_PER_WARMUP * setup["warmup_s"]
            run = traced_run(sess, wl, refs[wl.name], deadline)
        else:
            run = timed_run(spark, wl, inputs, refs[wl.name], args)
    finally:
        try:
            sess.stop()
        except Exception as exc:  # the JVM may already be gone
            log(f"session stop failed: {exc}")
        peak = rss.stop()
        remove_tmp_leftovers(before)
        shutil.rmtree(os.path.join(BUILD, "work"), ignore_errors=True)
    log(f"set-up {setup}")
    if args.trace:
        result = finish_traced(wl, run, {**setup, "process.peak_rss_mb": peak}, args)
    else:
        result = finish_timed(wl, run, t_warm - t_start, peak, args)
    print(json.dumps(result))
    return 0


def outcome_fields(outcomes) -> dict:
    failed = [o for o in outcomes if not o.ok]
    for o in failed:
        log(f"FAILED {o.op}: {o.detail}")
    return {"correct": not failed, "attempted": len(outcomes), "failed": len(failed)}


def timed_run(spark, wl, inputs, ref, args) -> dict:
    """Passes until ``args.seconds`` are measured; each pass's outputs
    are checked after its clock stops."""
    import spans as tr

    off = tr.Tracer(enabled=False)
    walls, outcomes = [], []
    while sum(walls) < args.seconds or not walls:
        res = wl.run_pass(spark, inputs, off, tag=f"p{len(walls)}")
        walls.append(res.wall_s)
        outcomes += wl.check(spark, res, ref)
        wl.cleanup(res)
    return {"walls": walls, "outcomes": outcomes}


def finish_timed(wl, run, setup_s: float, peak: float, args) -> dict:
    walls = run["walls"]
    wall = summary(walls)
    rate = summary([wl.rows / w for w in walls])
    fields = outcome_fields(run["outcomes"])
    print_table(f"{wl.name} (seed {args.seed})", [
        ("wall_s", f"{wall['median']:.3f}", f"s  {wall}"),
        ("rows_per_s", f"{rate['median']:.1f}", f"rows/s over {wl.rows} input rows  {rate}"),
        ("setup_s", f"{setup_s:.3f}", "s  n=1 (process start to the end of the warm-up)"),
        ("peak_rss_mb", f"{peak:.1f}", "MB  n=1 (process tree; not gated, see per-layer)"),
        ("failed_ops", f"{fields['failed']}/{fields['attempted']}", "ops"),
    ])
    return {**fields, "metrics": {
        "wall_s": {"value": wall["median"], "unit": "s"},
        "rows_per_s": {"value": rate["median"], "unit": "rows/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }}


def traced_run(sess, wl, ref, deadline: float) -> dict:
    """After the warm-up: the workload's probes, then an untraced pass,
    the traced pass and another untraced pass, each step in a session
    of its own in the JVM the warm-up warmed; only the probes' and the
    traced pass's sessions write an event log. ``overhead_s`` is the
    traced pass minus the mean of the untraced passes around it, which
    cancels warm-up drift that is linear in pass order; the probes come
    first so that the three passes meet a JVM past the steep part of
    its warm-up."""
    import spans as tr

    tracer = tr.Tracer(enabled=False)
    outcomes, plain, logs = [], [], []
    traced = digest = probes = root = None
    for step in ("probes", "plain", "traced", "plain"):
        logs.append(sess.stop())
        spark = sess.start(trace=step != "plain")
        inputs = wl.load(spark)
        tracer.spark, tracer.enabled = spark, step != "plain"
        if step == "probes":
            tracer.pass_id = 2
            probes, checked = wl.probe(spark, inputs, tracer, ref, deadline)
            tracer.enabled = False
            outcomes += checked
            if probes["skipped"]:
                log(f"probes past the deadline, skipped: {probes['skipped']}")
            continue
        tracer.pass_id = 1
        with tracer.span("pass") as sp:
            res = wl.run_pass(spark, inputs, tracer, tag=step)
        tracer.enabled = False
        outcomes += wl.check(spark, res, ref)
        if step == "plain":
            plain.append(res.wall_s)
        else:
            traced, root = res, sp.sid
            digest = wl.digest(spark, res) if not res.errors else {}
        wl.cleanup(res)
    logs.append(sess.stop())
    stats: dict = {}
    for path in filter(None, logs):
        for sid, st in tr.rollup(tr.read_events(path), tracer.spans).items():
            stats.setdefault(sid, tr.LayerStats()).add(st)
        os.remove(path)
    return {"tracer": tracer, "root": root, "stats": stats, "probes": probes,
            "digest": digest, "overhead_s": traced.wall_s - statistics.fmean(plain),
            "outcomes": outcomes}


def finish_traced(wl, run, setup: dict, args) -> dict:
    import layers

    tracer = run["tracer"]
    common, table = layers.report(
        wl, tracer.spans, run["stats"], run["root"], nproc(), run["probes"],
        run["digest"], run["overhead_s"], setup,
    )
    outcomes = run["outcomes"] + layers.span_checks(wl, tracer.spans, run["root"])
    os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
    with open(os.path.join(BUILD, "trace", f"{wl.name}-seed{args.seed}.json"), "w") as fh:
        jobs = {sid: st.job_intervals for sid, st in run["stats"].items()}
        json.dump({"layers": table, "spans": tracer.dump(), "jobs": jobs}, fh, indent=1)
    return {**outcome_fields(outcomes), "metrics": common}


def record_refs(workloads, refs: dict) -> int:
    before = tmp_entries()
    try:
        for name, cls in workloads.WORKLOADS.items():
            wl = cls(BUILD, 0)
            spark = start_session(False)
            try:
                refs[name] = wl.reference(spark, wl.load(spark))
            finally:
                spark.stop()
    finally:
        remove_tmp_leftovers(before)
    with open(REFS, "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main() if T0_ENV in os.environ else supervise(sys.argv[1:]))
