"""Benchmark of the Impala-on-Spark engine, driven from outside it.

    python3 perfbench/run.py --workload ingest_partitioned --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/workloads.py``): ``registry_pipeline`` and
``ingest_partitioned``. Run from the repository root. The run

1. generates the tables (``perfbench/datagen.py``, fixed data seed) and
   the registry oracles in a child process, so their memory is not part
   of the run's peak RSS, and keeps them under ``.perfbench/`` in the
   repository root; generates the workload's statements from ``--seed``;
2. pins the environment: ``local[2]``, a fixed 4 GiB driver heap with a
   1 GiB young generation and two parallel GC threads, 4 shuffle
   partitions, console progress off,
   and a fresh per-run directory under ``.perfbench/runs/`` as the
   working directory, warehouse, Spark local dir and temp dir (deleted
   at the end);
3. sets up the engine once — ``build_session`` (JVM launch +
   ``functions.register_all``), ``register_views``, and the
   ``ImpalaSession`` with its Beeswax and HS2 servers — timing each
   phase (``setup_s`` is their sum);
4. runs the workload's untimed warm-up, then its closed loop, in whole
   passes or rounds, until ``--seconds`` have passed and at least
   ``stats.MIN_SAMPLES`` statements (``registry_pipeline``: three
   passes) have completed, and reads the peak
   RSS of the Python process and the driver JVM;
5. checks every result against DuckDB, after the timed interval and the
   peak-RSS reading.

Standard output ends with a ``{"detail": …}`` line (seed, sf, git
revision, environment, host-noise sentinel before and after, workload
properties, tail percentile and sample count, failure share) and then
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the layers are wrapped (``perfbench/trace.py``), the
metrics are the per-layer ones, the end-to-end numbers of the traced run
go into the detail line (their difference from an untraced run is the
tracing overhead), and the spans are written to ``.perfbench/out/``.
The exit code is 1 when any statement failed or returned a wrong result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
#: Spark task threads: half the host's four vCPUs, so the tasks, the
#: JIT, GC, Janino and the Python client together do not outnumber them
CORES = 2
DRIVER_MEM = "4g"
YOUNG_GEN = "1g"
SHUFFLE_PARTITIONS = 4
#: scale factor of the tables each workload reads
SF = {"registry_pipeline": 0.01, "ingest_partitioned": 0.1}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _git_revision() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
    )
    return r.stdout.strip() or None


def _pin_environment(run_dir: Path) -> None:
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spark_conf(run_dir: Path) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "10000",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # a fixed heap and young generation: G1's adaptive sizing would
        # otherwise move the JVM's peak RSS by ±25% between identical runs;
        # as few GC threads as task threads
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}"
        f" -XX:ParallelGCThreads={CORES} -XX:ConcGCThreads=1"
        f" -Djava.io.tmpdir={run_dir / 'tmp'} -Dderby.system.home={run_dir}",
    }


def set_up(sf_dir: str, run_dir: Path) -> SimpleNamespace:
    """One engine set-up, each phase timed."""
    from impala_cut_spark.session import ImpalaSession, build_session
    from impala_cut_spark.hs2_server import HS2ThriftServer
    from impala_cut_spark.sources.catalog import register_views
    from impala_cut_spark.thrift_server import BeeswaxThriftServer

    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=_spark_conf(run_dir),
    )
    t1 = time.perf_counter()
    register_views(spark, sf_dir)
    t2 = time.perf_counter()
    isess = ImpalaSession(spark)
    beeswax = BeeswaxThriftServer(isess)
    beeswax.serve_background()
    hs2 = HS2ThriftServer(isess)
    hs2.serve_background()
    t3 = time.perf_counter()
    return SimpleNamespace(
        spark=spark,
        isess=isess,
        beeswax=beeswax,
        hs2=hs2,
        phases={"setup.session_s": t1 - t0, "setup.views_s": t2 - t1, "setup.servers_s": t3 - t2},
        jvm_pid=int(spark._jvm.java.lang.ProcessHandle.current().pid()),
    )


def tear_down(eng: SimpleNamespace) -> None:
    """Stop the servers, the session and the JVM, and wait for the JVM."""
    from pyspark import SparkContext

    eng.beeswax.shutdown()
    eng.hs2.shutdown()
    eng.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _duck(sf_dir: str, tmp: Path):
    import duckdb

    from impala_cut_spark.sources.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def make_inputs(workload: str, seed: int, sf_dir: str) -> dict:
    """The workload's generated inputs: a pure function of the seed and
    the (fixed) tables."""
    from perfbench import workloads as w

    if workload == "registry_pipeline":
        return {"oracle": w.load_oracles(str(WORK), sf_dir)}
    return {
        "cycles": w.ingest_cycles(seed, w.INGEST_CYCLES),
        "warmup": w.ingest_cycles(seed, 1, warm=True),
    }


def data_dir(sf: float) -> str:
    """Where the tables live: one directory per scale factor and
    generator version."""
    src = (ROOT / "perfbench" / "datagen.py").read_bytes()
    tag = hashlib.sha256(src).hexdigest()[:12]
    return str(WORK / "data" / f"sf{sf}-{tag}")


def prepare(workload: str, tmp: str) -> None:
    """Write the workload's tables and, for ``registry_pipeline``, its
    oracle results, unless they are there already. Runs in a child
    process of the run (see :func:`_prepare_in_child`)."""
    from perfbench import workloads as w
    from perfbench.datagen import write_tables

    sf_dir = write_tables(data_dir(SF[workload]), SF[workload])
    if workload == "registry_pipeline":
        con = _duck(sf_dir, Path(tmp))
        w.write_oracles(str(WORK), sf_dir, con)
        con.close()


def _prepare_in_child(workload: str, tmp: Path) -> None:
    code = f"from perfbench.run import prepare; prepare({workload!r}, {str(tmp)!r})"
    subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, stdout=sys.stderr, check=True, timeout=900
    )


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict, int]:
    import bench  # the repository's host-noise sentinel
    from perfbench import stats
    from perfbench.trace import JvmCounters, NullTracer, Tracer, instrument, layer_metrics
    from perfbench.workloads import CHECKS, WORKLOADS

    sentinel_start = bench._noise_sentinel()
    cpu_start = _cpu_jiffies()
    clock = [("start", time.perf_counter())]
    sf_dir = data_dir(SF[workload])
    run_dir = WORK / "runs" / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _pin_environment(run_dir)
    home = os.getcwd()
    tracer = Tracer() if trace else NullTracer()
    eng = None
    try:
        _prepare_in_child(workload, run_dir / "tmp")
        inputs = make_inputs(workload, seed, sf_dir)
        clock.append(("inputs", time.perf_counter()))
        os.chdir(run_dir)
        try:
            eng = set_up(sf_dir, run_dir)
            clock.append(("setup", time.perf_counter()))
            if trace:
                counters = JvmCounters(eng.spark)

                def window_start() -> None:
                    counters.start()
                    tracer.active = True

                def window_stop() -> None:
                    tracer.active = False
                    counters.stop()

            ctx = SimpleNamespace(
                spark=eng.spark,
                beeswax=eng.beeswax,
                hs2=eng.hs2,
                sf_dir=sf_dir,
                seed=seed,
                seconds=seconds,
                inputs=inputs,
                warehouse=str(run_dir / "warehouse"),
                tracer=tracer,
                null_tracer=NullTracer(),
                window_start=window_start if trace else (lambda: None),
                window_stop=window_stop if trace else (lambda: None),
            )
            if trace:
                with instrument(tracer, eng.isess):
                    out = WORKLOADS[workload](ctx)
                counters.job_spans(tracer)
            else:
                out = WORKLOADS[workload](ctx)
            rss = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(eng.jvm_pid)}
            clock.append(("workload", time.perf_counter()))
        finally:
            if eng is not None:
                tear_down(eng)
            os.chdir(home)
        clock.append(("teardown", time.perf_counter()))
        # correctness, after the timed loop and the peak-RSS reading
        con = _duck(sf_dir, run_dir / "tmp")
        try:
            CHECKS[workload](SimpleNamespace(duck=con, inputs=inputs), out)
        finally:
            con.close()
        clock.append(("check", time.perf_counter()))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu = [b - a for a, b in zip(cpu_start, _cpu_jiffies())]

    tail = stats.tail(out.latencies)
    end_to_end = {
        "setup_s": sum(eng.phases.values()),
        "latency_p50_s": statistics.median(out.latencies),
        "latency_tail_s": tail["value"],
        "queries_per_s": len(out.latencies) / out.wall_s,
        "peak_rss_mb": rss["python"] + rss["jvm"],
    }
    failed = out.errors + out.mismatches
    detail = {
        "workload": workload,
        "seed": seed,
        "sf": SF[workload],
        "git_revision": _git_revision(),
        "trace": trace,
        "environment": {
            "nproc": os.cpu_count(),
            "cores": CORES,
            "driver_mem": DRIVER_MEM,
            "young_gen": YOUNG_GEN,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "python": sys.version.split()[0],
            "run_dir": str(run_dir.relative_to(ROOT)),
        },
        "noise_sentinel_s": {"start": sentinel_start, "end": bench._noise_sentinel()},
        # CPU time the hypervisor gave to other guests during the run
        "steal_share": cpu[7] / sum(cpu),
        "setup_phases_s": eng.phases,
        "peak_rss_mb": rss,
        "phase_s": {b[0]: b[1] - a[1] for a, b in zip(clock, clock[1:])},
        "tail": tail,
        "statements": len(out.latencies),
        "timed_wall_s": out.wall_s,
        "failed_frac": stats.failed_frac(out.errors, out.mismatches, out.attempted),
        "errors": out.errors,
        "mismatches": out.mismatches,
        "problems": out.problems[:20],
        "properties": out.properties,
        **out.extra,
    }
    if trace:
        per_layer = {**eng.phases, **layer_metrics(tracer, counters.deltas)}
        detail["traced_end_to_end"] = end_to_end
        metrics = per_layer
        out_dir = WORK / "out"
        out_dir.mkdir(parents=True, exist_ok=True)
        with open(out_dir / f"spans-{workload}-s{seed}.jsonl", "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s) + "\n")
    else:
        metrics = end_to_end
    result = {
        "correct": failed == 0,
        "attempted": out.attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail, 0 if failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [str(ROOT)]
    try:
        import bench  # noqa: F401
        import impala_cut_spark  # noqa: F401
        import tools.query_grammar  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result, detail, code = run(args.workload, args.seed, args.seconds, bool(args.trace))
    units = _declared_units()
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return code


def _declared_units() -> dict[str, str]:
    """Metric units as declared in BENCHMARK.json."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
