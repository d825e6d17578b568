#!/usr/bin/env python3
"""End-to-end benchmark of the query registry at sf0.1.

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 15 --trace 0

One run is one process and one Spark session on ``local[<cores>]`` with
``get_spark``'s own defaults. The run

1. makes a private run directory under ``.perfbench_runs/`` in the
   checkout and points ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM temp
   dir, the warehouse dir, the Spark log and (``--trace 1``) an
   uncompressed event log into it, through a run-owned
   ``SPARK_CONF_DIR``; the directory is removed at the end, so no
   fixture-cache artifact outlives the run;
2. sets up (``setup_s``, process start to the first timed key): starts
   the session, runs each artifact-owning workload key once, then runs
   the check pass: every workload key once, its result collected to
   Arrow and compared inside DuckDB with the key's oracle SQL over the
   same parquet files. The check pass is also the warm-up;
3. runs the timed passes: every workload key once per pass, each from
   a fresh frame, timing ``QUERIES[key](spark, sf_dir)`` (construction)
   and a ``noop`` sink write of the frame (execution). The pass count
   is ``--seconds`` divided by a nominal pass length, so it depends on
   the arguments only;
4. prints a detail line and, last, one JSON result line: the
   end-to-end metrics, or with ``--trace 1`` the per-layer ones.

The inputs are the read-only seed-42 fixtures (``TESTDATA.md``) in
``$SPARK_GRAFT_SF_DIR``, by default the ``sf0.1`` sibling of the smoke
fixture that ``__spark_entry__.py`` names; the benchmark generates no
input, and ``--seed`` is recorded only.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the benchmark directory holds sources only

from eventlog import Window, count_log_lines, fold, read_events  # noqa: E402
from workloads import ARTIFACT_OWNERS, WORKLOADS, validate  # noqa: E402

# About the warm seconds of one pass of any workload on a 4-core machine;
# ``--seconds`` // this = the number of timed passes.
NOMINAL_PASS_S = 5.0
WINDOW_WARNING = "No Partition Defined for Window operation"
STREAM_MODULE = "map_reduce_subnet_spark.streaming.jobs"

LOG4J2 = """\
rootLogger.level = warn
rootLogger.appenderRef.file.ref = file
appender.file.type = File
appender.file.name = file
appender.file.fileName = {log}
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %d{{UNIX_MILLIS}} %p %c{{1}}: %m%n%ex
"""


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0, help="recorded; the inputs are fixed fixtures")
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", metavar="KEY", help="drop one row of KEY's result before the check")
    return p.parse_args(argv)


def _make_run_dir(workload: str, trace: bool) -> dict[str, str]:
    base = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(base, exist_ok=True)
    run = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
    d = {name: os.path.join(run, name) for name in ("tmp", "local", "conf", "events", "warehouse")}
    for path in d.values():
        os.makedirs(path)
    d["run"] = run
    d["log"] = os.path.join(run, "spark.log")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": "file:" + d["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={d['tmp']}",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file:" + d["events"],
            }
        )
    with open(os.path.join(d["conf"], "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in conf.items())
    with open(os.path.join(d["conf"], "log4j2.properties"), "w") as fh:
        fh.write(LOG4J2.format(log=d["log"]))
    os.environ.update(
        TMPDIR=d["tmp"],
        SPARK_LOCAL_DIRS=d["local"],
        SPARK_CONF_DIR=d["conf"],
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir says
        JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip(),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return d


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _cpu_split(before: list[int], after: list[int]) -> dict[str, float]:
    """Machine-wide CPU time shares (%) between two ``/proc/stat`` reads."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8]) or 1
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: round(100.0 * d / total, 2) for n, d in zip(names, delta) if n != "nice"}


def _proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child)
    return out


def _wait_gone(pids: set[int], timeout: float) -> set[int]:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        for pid in list(pids):
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            if not os.path.exists(f"/proc/{pid}") or _zombie(pid):
                pids.discard(pid)
        time.sleep(0.1)
    return pids


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker it
    started has exited."""
    procs = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        proc.wait(timeout=60)
    _kill_and_wait(_wait_gone(procs, 30))


def _kill_and_wait(pids: set[int]) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(pids, 10)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def _artifacts(tmp: str) -> set[str]:
    """Fixture-cache entries (``functions/cache.py`` and the keys' own
    ``mrs_*`` caches) in the run's temp dir. Keys remove their
    per-invocation scratch directories, so what stays is served again."""
    return {n for n in os.listdir(tmp) if n.startswith("mrs_")}


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    dirs = _make_run_dir(args.workload, bool(args.trace))
    try:
        return _run(args, dirs)
    finally:
        _kill_and_wait(_descendants(os.getpid()))  # left only if the run raised
        shutil.rmtree(dirs["run"], ignore_errors=True)


def _run(args: argparse.Namespace, dirs: dict[str, str]) -> int:
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401  (fails fast outside a checkout)
    from map_reduce_subnet_spark.operators import ORACLES, QUERIES
    from map_reduce_subnet_spark.session import get_spark
    from map_reduce_subnet_spark.sources.tables import TABLES

    from compare import Oracles, compare, oracle_connection

    validate(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.dirname(__spark_entry__.SMOKE_SF_DIR), "sf0.1"
    )
    if not all(os.path.isfile(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES):
        print(f"perfbench: fixtures missing in {sf_dir}", file=sys.stderr)
        return 2
    keys = WORKLOADS[args.workload]
    passes = max(1, int(args.seconds // NOMINAL_PASS_S))
    phases: dict[str, float] = {}

    def phase(name: str, since: float) -> float:
        now = time.perf_counter()
        phases[name] = round(now - since, 3)
        return now

    t = time.perf_counter()
    phase("import", _T0)
    spark = get_spark()
    t = phase("session", t)
    session_start_s = phases["session"]
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid

    def execute(key: str) -> tuple[float, float, float]:
        """Construct the key's frame and sink it; epoch seconds at start,
        at the sink call and at the end."""
        a = time.time()
        df = QUERIES[key](spark, sf_dir)
        b = time.time()
        df.write.format("noop").mode("overwrite").save()
        return a, b, time.time()

    # ---- set-up: artifact owners, then the check pass ----
    build_s = 0.0
    built: dict[str, list[str]] = {}
    for key in ARTIFACT_OWNERS[args.workload]:
        before = _artifacts(dirs["tmp"])
        sc.setJobGroup(f"setup:{key}", "perfbench artifact build")
        a, _, c = execute(key)
        built[key] = sorted(_artifacts(dirs["tmp"]) - before)
        build_s += c - a
    setup_artifacts = _artifacts(dirs["tmp"])
    artifact_bytes = sum(_tree_bytes(os.path.join(dirs["tmp"], n)) for n in setup_artifacts)
    t = phase("artifacts", t)

    # Every key once, its result compared with the oracle. This is also
    # the warm-up: it reaches exactly the engine paths the passes use.
    con = oracle_connection(sf_dir, TABLES, dirs["tmp"])
    oracles = Oracles(con, sf_dir, TABLES, os.path.join(ROOT, ".perfbench_cache", "oracle"))
    attempted = failed = 0
    mismatches: dict[str, str] = {}
    errors: dict[str, str] = {}
    for key in keys:
        attempted += 1
        sc.setJobGroup(f"check:{key}", "perfbench oracle check")
        try:
            got = QUERIES[key](spark, sf_dir).toArrow()
            if key == args.corrupt and got.num_rows:
                got = got.slice(1)
            why = compare(con, got, oracles.answer(ORACLES[key]))
        except Exception as exc:  # a key that raises is counted, the run goes on
            errors[key] = f"{type(exc).__name__}: {str(exc)[:300]}"
            failed += 1
            continue
        if why is not None:
            mismatches[key] = why
            failed += 1
    con.close()
    t = phase("check_pass", t)
    setup_s = time.perf_counter() - _T0

    # ---- timed passes ----
    windows: list[Window] = []
    times: dict[str, list[float]] = {k: [] for k in keys}
    construct_s = execute_s = stream_construct_s = 0.0
    pass_s: list[float] = []
    ticks0, load0, jvm_cpu0 = _cpu_ticks(), os.getloadavg(), _proc_cpu_s(jvm_pid)
    for p in range(passes):
        total = 0.0
        for key in keys:
            attempted += 1
            sc.setJobGroup(key, f"perfbench pass {p}")
            try:
                a, b, c = execute(key)
            except Exception as exc:  # a failing key is counted, the run goes on
                failed += 1
                errors.setdefault(key, f"{type(exc).__name__}: {str(exc)[:300]}")
                continue
            if key in mismatches:
                failed += 1
            windows.append(Window(key, a * 1e3, b * 1e3, c * 1e3))
            times[key].append(c - a)
            total += c - a
            construct_s += b - a
            execute_s += c - b
            if QUERIES[key].__module__ == STREAM_MODULE:
                stream_construct_s += b - a
        pass_s.append(total)
    ticks1, load1, jvm_cpu1 = _cpu_ticks(), os.getloadavg(), _proc_cpu_s(jvm_pid)
    t = phase("passes", t)
    pass_artifacts = sorted(_artifacts(dirs["tmp"]) - setup_artifacts)
    peak_rss_mb = _vm_hwm_mb(jvm_pid)
    _stop(spark)
    t = phase("stop", t)

    # Per key, the median over the passes; across keys, the geometric
    # mean. A median across the keys would jump between neighbouring
    # keys whose times differ by tens of percent.
    key_medians = [statistics.median(v) for v in times.values() if v]
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(pass_s), "s"),
        "query_geomean_s": (statistics.geometric_mean(key_medians) if key_medians else 0.0, "s"),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf_dir": sf_dir,
        "passes": passes,
        "keys": len(keys),
        "pass_s": [round(x, 4) for x in pass_s],
        "key_s": {k: [round(x, 4) for x in v] for k, v in times.items()},
        "artifacts_built": built,
        "phases_s": phases,
        "pass_artifacts": pass_artifacts,
        "mismatches": mismatches,
        "errors": errors,
        "cpu_pct": _cpu_split(ticks0, ticks1),
        "jvm_cpu_s": round(jvm_cpu1 - jvm_cpu0, 2),
        "loadavg": [list(load0), list(load1)],
    }
    if args.trace:
        layers = fold(read_events(dirs["events"]), windows)
        n = float(passes)
        metrics = {
            "session.start_s": (session_start_s, "s"),
            "session.peak_rss_mb": (peak_rss_mb, "MB"),
            "functions.cache.artifacts": (float(len(setup_artifacts)), "count"),
            "functions.cache.artifact_bytes": (float(artifact_bytes), "bytes"),
            "functions.cache.build_s": (build_s, "s"),
            "operators.construct_s": (construct_s / n, "s"),
            "operators.execute_s": (execute_s / n, "s"),
            "operators.plan_s": (layers["plan_s"] / n, "s"),
            "operators.jobs": (layers["jobs"] / n, "count"),
            "operators.stages": (layers["stages"] / n, "count"),
            "operators.tasks": (layers["tasks"] / n, "count"),
            "operators.task_cpu_s": (layers["task_cpu_s"] / n, "s"),
            "operators.task_run_s": (layers["task_run_s"] / n, "s"),
            "operators.gc_s": (layers["gc_s"] / n, "s"),
            "operators.shuffle_write_bytes": (layers["shuffle_write_bytes"] / n, "bytes"),
            "operators.shuffle_read_bytes": (layers["shuffle_read_bytes"] / n, "bytes"),
            "operators.spill_bytes": (layers["spill_bytes"] / n, "bytes"),
            "operators.single_task_stages": (layers["single_task_stages"] / n, "count"),
            "operators.window_single_partition_warnings": (
                count_log_lines(dirs["log"], WINDOW_WARNING, windows) / n,
                "count",
            ),
            "sources.input_bytes": (layers["input_bytes"] / n, "bytes"),
            "sources.input_records": (layers["input_records"] / n, "count"),
        }
        per_pass = ("queries", "triggers", "input_rows", "trigger_s", "commit_s", "state_rows")
        for name in per_pass:
            unit = "s" if name.endswith("_s") else "count"
            metrics[f"streaming.{name}"] = (layers[f"streaming.{name}"] / n, unit)
        metrics["streaming.trigger_p50_s"] = (layers["streaming.trigger_p50_s"], "s")
        metrics["streaming.floor_s"] = ((stream_construct_s - layers["streaming.trigger_s"]) / n, "s")
        metrics["streaming.state_memory_bytes"] = (layers["streaming.state_memory_bytes"] / n, "bytes")
        detail["end_to_end_traced"] = {k: round(v, 4) for k, (v, _) in e2e.items()}
    else:
        metrics = e2e
    detail["wall_s"] = round(time.perf_counter() - _T0, 2)
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": not mismatches,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
