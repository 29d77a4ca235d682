"""The workloads. Each is one client in a closed loop, in one process.

- ``registry_pipeline``: the thirteen :data:`REGISTRY_TIMED` headliners
  through ``spec.spark(spark, sf_dir).count()``, cache cleared before
  each, one untimed pass (whose results are checked against their
  oracles) and then whole timed passes, both in registry order. Its
  inputs are fixed; the seed changes nothing. The JIT is still
  compiling during the first passes, so a query's time depends on what
  ran before it: a seed-shuffled order moved pass time by about 20%
  between seeds, and a single timed pass of all 23 headliners moved
  single queries by ±30%.
  At sf0.01 about two fifths of the timed time is Spark jobs and the rest
  is plan construction, Catalyst planning and codegen, so the operator
  layers are measured only lightly. At least three timed passes give
  39 samples, so ``latency_tail_s`` is their p74.
- ``ingest_partitioned``: cycles of CREATE … PARTITIONED BY … STORED AS
  PARQUET, INSERT OVERWRITE, two INSERT INTO appends, COMPUTE STATS and
  REFRESH over Beeswax, then a read-back aggregate over HS2. Two
  appends per cycle put the median statement inside the append cluster
  instead of on the gap between the read-back and append clusters,
  where it would jump.

A workload returns an :class:`Outcome` holding what its check in
:data:`CHECKS` needs. The check runs after the run's peak RSS has been
read, so DuckDB's memory is not counted as the program's.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from perfbench.stats import MIN_SAMPLES


@dataclass
class Outcome:
    latencies: list[float] = field(default_factory=list)
    wall_s: float = 0.0
    attempted: int = 0
    errors: int = 0
    mismatches: int = 0
    problems: list[str] = field(default_factory=list)
    properties: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)
    #: the results the workload's check compares, kept until it runs
    results: list = field(default_factory=list)

    def error(self, what: str, exc: BaseException) -> None:
        self.errors += 1
        self.problems.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")

    def mismatch(self, what: str, msg: str) -> None:
        self.mismatches += 1
        self.problems.append(f"{what}: {msg}")


def _keep_going(t0: float, seconds: float, done: int, min_samples: int) -> bool:
    return time.perf_counter() - t0 < seconds or done < min_samples


# -- registry_pipeline ----------------------------------------------------------


def _canonical(cols, rows):
    from tools.check_correctness import frame_to_rows

    return json.loads(json.dumps(frame_to_rows([c.lower() for c in cols], rows)))


def write_oracles(work_dir: str, sf_dir: str, duck) -> None:
    """Write each timed headliner's oracle result over ``sf_dir``, in
    canonical form, computed by DuckDB once per (tables, oracle SQL), to
    a file in ``work_dir``: the tables are fixed, so the answer is too.
    Run in a child process (see ``run.prepare``); the run itself reads
    the file with :func:`load_oracles`."""
    path = _oracle_path(work_dir, sf_dir)
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    changed = False
    for name, spec in registry_queries():
        if not spec.oracle:
            continue
        key = hashlib.sha256(spec.oracle.encode()).hexdigest()
        hit = cache.get(name)
        if hit is None or hit["sql_sha256"] != key:
            rel = duck.sql(spec.oracle)
            hit = {"sql_sha256": key, "result": _canonical(rel.columns, rel.fetchall())}
            cache[name] = hit
            changed = True
    if changed:
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)


def _oracle_path(work_dir: str, sf_dir: str) -> str:
    return os.path.join(work_dir, f"oracle-{os.path.basename(sf_dir)}.json")


def load_oracles(work_dir: str, sf_dir: str) -> dict[str, list]:
    with open(_oracle_path(work_dir, sf_dir)) as f:
        return {name: hit["result"] for name, hit in json.load(f).items()}


#: the timed headliners, in registry order: TPC-H/TPC-DS joins and
#: aggregates, sort, the quality classifier, BM25 and typed aggregates.
#: Each takes 0.1-1.5 s at sf0.01, so four passes fit the time budget.
#: An odd count puts the median sample inside one query's samples, here
#: among the TPC-H/TPC-DS joins, whose times lie close together, not on
#: the gap between two queries.
#: Left out: the MinHash and Jaccard dedup pipelines (2-4 s each; MinHash
#: alone was half of every pass, so one query set queries_per_s) and the
#: ANN top-k and substring dedup pipelines (their times moved 2x between
#: passes).
REGISTRY_TIMED = (
    "tpch_q18",
    "tpcds_q65",
    "perf_sort_stress",
    "pipe_quality_classifier",
    "tpch_q1",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q9",
    "tpcds_q3",
    "tpcds_q46",
    "pipe_bm25",
    "perf_agg_types",
)
#: timed passes at least, whatever --seconds. The JIT is still at work
#: in them (the first ran 20-40% slower than the third), so with passes
#: counted by time a run on a busy host timed two slow passes, a run on a
#: quiet one three, and the faster third pass widened the gap
REGISTRY_TIMED_PASSES = 3


def registry_queries() -> list:
    """The :data:`REGISTRY_TIMED` headliners as ``(name, spec)``."""
    from impala_cut_spark.plans import REGISTRY

    return [(n, REGISTRY[n]) for n in REGISTRY_TIMED]


def run_registry(ctx) -> Outcome:
    out = Outcome()
    spark, sf_dir, tr = ctx.spark, ctx.sf_dir, ctx.tracer
    headline = registry_queries()
    # untimed warm pass; check_registry compares its results
    w0 = time.perf_counter()
    for name, spec in headline:
        spark.catalog.clearCache()
        try:
            df = spec.spark(spark, sf_dir)
            out.results.append((name, df.columns, df.collect()))
        except Exception as e:  # noqa: BLE001
            out.error(f"warm {name}", e)
    warm_s = time.perf_counter() - w0
    per_query: dict[str, list[float]] = {n: [] for n, _ in headline}
    ctx.window_start()
    t0 = time.perf_counter()
    pass_s = []
    while len(pass_s) < REGISTRY_TIMED_PASSES or _keep_going(
        t0, ctx.seconds, len(out.latencies), MIN_SAMPLES
    ):
        p0 = time.perf_counter()
        for name, spec in headline:
            out.attempted += 1
            tr.stmt = out.attempted
            spark.catalog.clearCache()
            try:
                s0 = time.perf_counter()
                with tr.span("statement", query=name):
                    with tr.span("plans.construct"):
                        df = spec.spark(spark, sf_dir)
                    if tr.enabled:
                        # what df.count() runs, with its planning split out
                        counted = df.groupBy().count()
                        with tr.span("catalyst.plan"):
                            counted._jdf.queryExecution().executedPlan()
                        counted.collect()
                    else:
                        df.count()
                dt = time.perf_counter() - s0
                out.latencies.append(dt)
                per_query[name].append(dt)
            except Exception as e:  # noqa: BLE001
                out.error(f"timed {name}", e)
        pass_s.append(time.perf_counter() - p0)
    out.wall_s = time.perf_counter() - t0
    ctx.window_stop()
    spark.catalog.clearCache()
    total = sum(sum(v) for v in per_query.values()) or 1.0
    out.properties = {
        "warm_s": round(warm_s, 3),
        "passes": len(pass_s),
        "pass_s": [round(t, 3) for t in pass_s],
        "share_of_pass_time": {n: round(sum(v) / total, 4) for n, v in per_query.items()},
    }
    return out


def check_registry(ctx, out: Outcome) -> None:
    expected = ctx.inputs["oracle"]
    for name, cols, rows in out.results:
        want = expected.get(name)
        got = _canonical(cols, rows)
        if want is not None and got != want:
            out.mismatch(name, f"result differs from oracle ({len(got[1])} vs {len(want[1])} rows)")


# -- ingest_partitioned ---------------------------------------------------------

#: (partition column, type, expression over lineitem): four partitions
#: each, so every cycle writes the same number of partitions
PARTITION_KEYS = [
    ("line_bucket", "INT", "l_linenumber % 4"),
    ("supp_bucket", "BIGINT", "l_suppkey % 4"),
    ("ship_quarter", "STRING", "concat('q', quarter(l_shipdate))"),
]
#: the columns every ingest table holds besides its partition key
DATA_COLUMNS = {
    "l_orderkey": "BIGINT",
    "l_quantity": "DOUBLE",
    "l_partkey": "BIGINT",
    "l_suppkey": "BIGINT",
    "l_extendedprice": "DOUBLE",
    "l_discount": "DOUBLE",
    "l_tax": "DOUBLE",
    "l_shipdate": "TIMESTAMP",
}
#: offset of the warm-up cycles' seed, so no timed seed draws them
_WARM_BASE = 1 << 40
#: cycles generated per run; the timed loop runs whole rounds of
#: len(PARTITION_KEYS) cycles until --seconds and MIN_SAMPLES are reached
INGEST_CYCLES = 10 * len(PARTITION_KEYS)


def ingest_cycles(seed: int, n: int, warm: bool = False) -> list[dict]:
    """``n`` seed-drawn cycles: table, partition key (each key in turn,
    in a seed-shuffled order), row filters and the seven statements."""
    rng = random.Random(seed + (_WARM_BASE if warm else 0))
    keys = list(PARTITION_KEYS)
    rng.shuffle(keys)
    cycles = []
    for c in range(n):
        table = f"ingest_{'w' if warm else 'c'}{c}"
        key, ktype, kexpr = keys[c % len(keys)]
        quarter, b1, b2 = rng.randrange(4), *rng.sample(range(10), 2)
        select = f"SELECT {', '.join(DATA_COLUMNS)}, {kexpr} AS {key} FROM lineitem"
        overwrite_sel = f"{select} WHERE l_orderkey % 4 = {quarter}"
        appends = [
            f"{select} WHERE l_orderkey % 4 <> {quarter} AND l_suppkey % 10 = {b}" for b in (b1, b2)
        ]
        readback = (
            f"SELECT {key}, count(*) AS n, sum(l_quantity) AS q, min(l_orderkey) AS lo, "
            f"max(l_orderkey) AS hi FROM {table} GROUP BY {key}"
        )
        cycles.append(
            {
                "table": table,
                "key": key,
                "overwrite_select": overwrite_sel,
                "append_selects": appends,
                "readback": readback,
                "statements": [
                    ("create", f"CREATE TABLE {table} ("
                     + ", ".join(f"{c} {t}" for c, t in DATA_COLUMNS.items())
                     + f") PARTITIONED BY ({key} {ktype}) STORED AS PARQUET"),
                    ("overwrite", f"INSERT OVERWRITE {table} PARTITION ({key}) {overwrite_sel}"),
                    ("append", f"INSERT INTO {table} PARTITION ({key}) {appends[0]}"),
                    ("append2", f"INSERT INTO {table} PARTITION ({key}) {appends[1]}"),
                    ("stats", f"COMPUTE STATS {table}"),
                    ("refresh", f"REFRESH {table}"),
                    ("readback", readback),
                ],
            }
        )
    return cycles


_DML = ("overwrite", "append", "append2")


def _statement(beeswax, hs2, tracer, kind: str, sql: str):
    """Run one statement: the read-back over HS2 (execute, then paged
    fetches) and returning its rows; every other statement over Beeswax,
    returning the rows written for DML and None otherwise."""
    if kind == "readback":
        with tracer.span("wire.execute"):
            op = hs2.execute(sql)
        rows = []
        while True:
            with tracer.span("wire.fetch") as sp:
                page = hs2.fetch(op, 1024)
                sp["rows"] = len(page["rows"])
            rows.extend(page["rows"])
            if not page["has_more"]:
                break
        hs2.close_operation(op)
        return rows
    with tracer.span("wire.execute"):
        h = beeswax.query(sql)
    if kind in _DML:
        return sum(beeswax.close_insert(h).values())
    beeswax.close_query(h)
    return None


def run_ingest(ctx) -> Outcome:
    from impala_cut_spark.hs2_server import HS2ThriftClient
    from impala_cut_spark.thrift_server import BeeswaxThriftClient

    out = Outcome()
    client = BeeswaxThriftClient(ctx.beeswax.host, ctx.beeswax.port)
    hs2 = HS2ThriftClient(ctx.hs2.host, ctx.hs2.port)
    hs2.open_session()
    results = out.results
    by_kind: dict[str, list[float]] = {}
    dml_s = 0.0
    try:
        for cyc in ctx.inputs["warmup"]:
            for kind, sql in cyc["statements"]:
                _statement(client, hs2, ctx.null_tracer, kind, sql)
        ctx.window_start()
        t0 = time.perf_counter()
        for c, cyc in enumerate(ctx.inputs["cycles"]):
            # whole rounds only: every partition key equally often
            if c % len(PARTITION_KEYS) == 0 and not _keep_going(
                t0, ctx.seconds, len(out.latencies), MIN_SAMPLES
            ):
                break
            got: dict = {}
            for kind, sql in cyc["statements"]:
                out.attempted += 1
                ctx.tracer.stmt = out.attempted
                try:
                    s0 = time.perf_counter()
                    with ctx.tracer.span("statement", kind=kind):
                        got[kind] = _statement(client, hs2, ctx.tracer, kind, sql)
                    dt = time.perf_counter() - s0
                    out.latencies.append(dt)
                    by_kind.setdefault(kind, []).append(dt)
                    if kind in _DML:
                        dml_s += dt
                except Exception as e:  # noqa: BLE001
                    out.error(f"{cyc['table']} {kind}", e)
            results.append((cyc, got))
        out.wall_s = time.perf_counter() - t0
        ctx.window_stop()
    finally:
        hs2.close_session()
        hs2.close()
        client.close()
    rows_written = sum(g.get(k) or 0 for _, g in results for k in _DML)
    out.extra["rows_written_per_s"] = rows_written / dml_s if dml_s else 0.0
    out.properties = {
        "median_latency_s": {k: statistics.median(v) for k, v in by_kind.items()},
        "cycles": [_written(ctx.warehouse, c, g) for c, g in results],
    }
    return out


def check_ingest(ctx, out: Outcome) -> None:
    from tools.query_grammar import compare_results

    duck = ctx.duck
    for cyc, got in out.results:
        t = cyc["table"]
        selects = dict(zip(_DML, [cyc["overwrite_select"], *cyc["append_selects"]]))
        for kind, sel in selects.items():
            want = duck.sql(f"SELECT count(*) FROM ({sel})").fetchone()[0]
            if kind in got and got[kind] != want:
                out.mismatch(f"{t} {kind}", f"CloseInsert reported {got[kind]} rows, expected {want}")
        if "readback" not in got:
            continue
        duck.sql(f"DROP TABLE IF EXISTS {t}")
        duck.sql(f"CREATE TABLE {t} AS {selects['overwrite']}")
        for kind in _DML[1:]:
            duck.sql(f"INSERT INTO {t} {selects[kind]}")
        want = duck.sql(cyc["readback"]).fetchall()
        duck.sql(f"DROP TABLE {t}")
        # key and integer columns exact; sum(l_quantity) with tolerance
        msg = compare_results(got["readback"], want, [False, False, True, False, False])
        if msg:
            out.mismatch(f"{t} readback", msg)


def _written(warehouse: str, cyc: dict, got: dict) -> dict:
    root = os.path.join(warehouse, cyc["table"])
    files = size = 0
    parts = set()
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
                parts.add(os.path.relpath(d, root))
    return {
        "table": cyc["table"],
        "partition_key": cyc["key"],
        "rows": sum(got.get(k) or 0 for k in _DML),
        "bytes": size,
        "files": files,
        "partitions": len(parts),
    }


WORKLOADS = {
    "registry_pipeline": run_registry,
    "ingest_partitioned": run_ingest,
}
#: each workload's correctness check, run after the timed loop and the
#: peak-RSS reading
CHECKS = {
    "registry_pipeline": check_registry,
    "ingest_partitioned": check_ingest,
}
