"""The benchmark's workloads: set-up, warm-up with correctness checks,
the measured closed loop, and the metrics each run reports.

Both workloads run one client thread in a closed loop: the next
operation starts when the previous one returns. Caches the engine tracks
are released after every read operation, as ``bench.py`` does, so each
operation pays its own materialization.

- ``sf01_headline``: every ``bench.HEADLINE`` slot once per pass, in an
  order shuffled by the seed, over the generated sf0.1 star tables. One
  operation is the builder call plus a count action plus the cache
  release. The warm-up pass runs every slot on the sf0.01 tables and
  compares its full result with the DuckDB oracle's; a full sf0.1
  warm-up would double the run's length. Measured operations check
  their row count against the oracle's at sf0.1.
- ``incremental_load``: seeded change batches against a copy-on-write
  ``orders`` table; one operation is one batch: ``merge_upsert`` of the
  orders, ``idempotent_append`` of the new line items, a ``read_merged``
  aggregate read-back, and ``vacuum(keep_last=2)``. A pass is
  ``BATCHES_PER_PASS`` batches.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import bench
from praw_etl_student_dropout_spark.operators.merge import (
    current_path,
    merge_upsert,
    read_merged,
    vacuum,
)
from praw_etl_student_dropout_spark.plans import catalog_all
from praw_etl_student_dropout_spark.plans.cache_registry import release_session_caches
from praw_etl_student_dropout_spark.schemas import FIXTURE_TABLES
from praw_etl_student_dropout_spark.session import get_spark
from praw_etl_student_dropout_spark.sources.partitioned import ensure_orders_by_year
from praw_etl_student_dropout_spark.sources.readers import load_tables
from praw_etl_student_dropout_spark.sources.writers import idempotent_append, write_parquet
from tools.check_oracle import float_diff, normalize

import inputs
from spans import SPARK_COUNTERS, Tracer

#: Set-ups per run; ``setup_s`` is their median. Each one starts a new
#: SparkContext (the first also launches the JVM) on a fresh copy of the
#: inputs and a fresh scratch directory, so no step finds its own output.
SETUP_REPS = 3
SF_MEASURED = 0.1
SF_CHECKED = 0.01
BATCHES_PER_PASS = 3
ORDER_KEYS = ["o_orderkey"]
LINE_KEYS = ["l_orderkey", "l_linenumber"]
#: Largest accepted float difference, relative to the largest magnitude
#: in the oracle's result, when the exact value hash differs.
FLOAT_TOLERANCE = 1e-9
LAYERS = ("session", "sources", "plans", "spark", "merge", "writers")
PER_LAYER = (
    "session.get_spark_s", "sources.load_tables_s", "sources.orders_by_year_s",
    "merge.init_s", "plans.build_s", "plans.build_share", "plans.py4j_calls",
    "plans.caches_released", "plans.cache_release_s", "spark.action_s",
    *(f"spark.{c}" for c in SPARK_COUNTERS),
    "merge.upsert_s", "merge.bytes_written", "merge.files_written", "merge.read_s",
    "merge.vacuum_s", "writers.append_s", "writers.rows_appended",
    "readback_p50_s", "write_amp", "trace.residual_s", "trace.overhead_s",
    *(f"{layer}.errors" for layer in LAYERS),
)


class Run:
    """State of one benchmark invocation."""

    def __init__(self, seed: int, seconds: float, traced: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors = dict.fromkeys(LAYERS, 0)
        self.setups: list[dict[str, float]] = []
        self.notes: dict[str, object] = {}
        self.spark = None
        self.tracer: Tracer | None = None
        self.t0 = self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Note the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.notes[f"phase.{name}_s"] = round(now - self._mark, 3)
        self._mark = now

    def error(self, layer: str, what: str) -> None:
        """Count a failure of ``layer`` and report it; the run goes on."""
        self.errors[layer] += 1
        print(f"# {layer} error in {what}:", file=sys.stderr)
        traceback.print_exc()

    def setup(self, tables: list[str], src_dir: str, last_step) -> tuple[str, dict]:
        """Set up ``SETUP_REPS`` times; returns the last data dir and the
        frames ``load_tables`` gave it. ``last_step(spark, rep_dir, frames)``
        is the workload's own step and returns its per-layer name."""
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            rep_dir = os.path.join(self.work, f"setup{rep}")
            data_dir = os.path.join(rep_dir, "data")
            os.makedirs(data_dir)
            for t in tables:
                shutil.copyfile(os.path.join(src_dir, f"{t}.parquet"), os.path.join(data_dir, f"{t}.parquet"))
            os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(rep_dir, "scratch")
            times: dict[str, float] = {}
            t0 = time.perf_counter()
            # A fixed-size heap (-Xms as large as the -Xmx the engine sets)
            # keeps heap resizing, and with it the JVM's peak resident
            # size, from varying run to run.
            self.spark = get_spark(app_name="perfbench", extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
            })
            self.spark.sparkContext.setLogLevel("ERROR")
            times["session.get_spark_s"] = time.perf_counter() - t0
            t = time.perf_counter()
            frames = load_tables(self.spark, data_dir, tables)
            times["sources.load_tables_s"] = time.perf_counter() - t
            t = time.perf_counter()
            name = last_step(self.spark, rep_dir, frames)
            times[name] = time.perf_counter() - t
            times["setup_s"] = time.perf_counter() - t0
            self.setups.append(times)
        self.notes["setups_s"] = [round(s["setup_s"], 3) for s in self.setups]
        self.tracer = Tracer(self.spark, self.traced)
        return data_dir, frames

    def measure(self, keys: list[str], run_op, window: str) -> list[dict]:
        """Closed loop of whole passes over ``keys`` for ``seconds``, at
        least one pass; ``run_op(key, op_id)`` runs one operation inside
        ``tracer.op`` and returns its record. A pass's time is the sum of
        its operations' times. A traced run runs every operation twice,
        untraced and traced, alternating which goes first, so the tracing
        overhead is measured under the same conditions as the operation."""
        passes: list[dict] = []
        start = time.perf_counter()
        n = 0
        while not passes or time.perf_counter() - start < self.seconds:
            by_mode: dict[bool, list[dict]] = {False: [], True: []}
            for i, key in enumerate(keys):
                modes = ((False, True) if i % 2 == 0 else (True, False)) if self.traced else (False,)
                for traced in modes:
                    self.tracer.enabled = traced
                    by_mode[traced].append(run_op(key, f"p{n}-{key}{'-t' if traced else ''}"))
            self.tracer.enabled = False
            if self.traced:
                self.tracer.harvest(by_mode[True], window)
            for traced, ops in by_mode.items():
                if ops:
                    passes.append({"wall": sum(op["wall"] for op in ops), "ops": ops, "traced": traced})
            n += 1
        return passes


# -- shared metric helpers -------------------------------------------------

def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean
    of all order statistics. With the few dozen latencies of one run it
    moves far less than the one or two order statistics nearest ``p``."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 4097)[1:-1]
    log_density = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.cumsum(np.exp(log_density - log_density.max()))
    cdf = np.concatenate([[0.0], cdf / cdf[-1], [1.0]])
    weights = np.diff(np.interp(np.arange(n + 1) / n, np.concatenate([[0.0], t, [1.0]]), cdf))
    return float(weights @ x)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with ``min(10, n // 4)`` samples beyond it:
    ten beyond once there are 40 samples, never below p75 before that.
    Returns (its Harrell-Davis estimate, percentile, samples beyond)."""
    beyond = min(10, len(values) // 4)
    if not beyond:
        return max(values), 100.0, 0
    pct = 100.0 * (len(values) - beyond) / len(values)
    return hd_quantile(values, pct / 100.0), pct, beyond


def _peak_rss_mb(pid: int) -> float:
    """VmHWM of process ``pid``."""
    with open(f"/proc/{pid}/status") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:")) / 1024.0


def end_to_end(run: Run, passes: list[dict]) -> dict[str, float]:
    plain = [p for p in passes if not p["traced"]]
    latencies = [op["wall"] for p in plain for op in p["ops"]]
    value, pct, beyond = tail(latencies)
    run.notes["op_tail"] = f"p{pct:.1f} of {len(latencies)} ops, {beyond} beyond"
    run.notes["passes"] = f"{len(plain)} untraced, {len(passes) - len(plain)} traced"
    run.notes["pass_walls_s"] = [round(p["wall"], 3) for p in plain]
    rss = {"python": _peak_rss_mb(os.getpid()), "jvm": _peak_rss_mb(run.spark.sparkContext._gateway.proc.pid)}
    run.notes["peak_rss_mb"] = {k: round(v, 1) for k, v in rss.items()}
    return {
        "setup_s": statistics.median(s["setup_s"] for s in run.setups),
        "pass_s": statistics.median(p["wall"] for p in plain),
        "op_p50_s": hd_quantile(latencies, 0.5),
        "op_tail_s": value,
        "peak_rss_mb": sum(rss.values()),
    }


def per_layer(run: Run, passes: list[dict], pass_extras) -> dict[str, float]:
    """Per-layer metrics: set-up steps as the median over set-ups, the
    rest as the median over traced passes of per-pass totals.
    ``pass_extras(ops)`` adds a workload's own values."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    for key in ("session.get_spark_s", "sources.load_tables_s",
                "sources.orders_by_year_s", "merge.init_s"):
        out[key] = statistics.median(s.get(key, 0.0) for s in run.setups)
    traced = [p for p in passes if p["traced"]]
    rows, selfs = [], []
    for p in traced:
        lt = run.tracer.layer_times({op["id"] for op in p["ops"]})
        selfs.append({name: t["self_s"] for name, t in lt.items()})

        def total(name: str, field: str = "total_s") -> float:
            return lt.get(name, {}).get(field, 0.0)

        row = {
            "plans.build_s": total("plans.build"),
            "plans.py4j_calls": total("plans.build", "py4j_calls"),
            "plans.cache_release_s": total("plans.cache_release"),
            "spark.action_s": total("spark.action"),
            "merge.upsert_s": total("merge.upsert"),
            "merge.read_s": total("merge.read"),
            "merge.vacuum_s": total("merge.vacuum"),
            "writers.append_s": total("writers.append"),
            "trace.residual_s": total("op", "self_s"),
            "plans.build_share": total("plans.build") / p["wall"],
        }
        for c in SPARK_COUNTERS:
            row[f"spark.{c}"] = sum(op["spark"][c] for op in p["ops"])
        row.update(pass_extras(p["ops"]))
        rows.append(row)
    for key in rows[0]:
        out[key] = statistics.median(r[key] for r in rows)
    out["trace.overhead_s"] = (
        statistics.median(p["wall"] for p in traced)
        - statistics.median(p["wall"] for p in passes if not p["traced"])
    )
    for layer, n in run.errors.items():
        out[f"{layer}.errors"] = n
    residuals = run.tracer.op_residuals()
    run.notes["residual_per_op"] = (
        f"median {statistics.median(residuals) * 1e3:.3f} ms, max {max(residuals) * 1e3:.3f} ms "
        f"over {len(residuals)} traced ops"
    )
    run.notes["layer_self_s"] = {
        name: statistics.median(s.get(name, 0.0) for s in selfs)
        for name in sorted({name for s in selfs for name in s})
    }
    return out


# -- sf01_headline -----------------------------------------------------------

def _value_hash(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _duck(star_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star_dir}/{t}.parquet'")
    return con


def _oracle_rows(con, sql: str) -> tuple[list[tuple], list[str]]:
    rel = con.sql(sql)
    return rel.fetchall(), rel.columns


def _oracle_hashes(star_dir: str, queries: dict[str, str]) -> dict[str, dict]:
    con = _duck(star_dir)
    out = {}
    for key, sql in queries.items():
        rows, cols = _oracle_rows(con, sql)
        out[key] = {"rows": len(rows), "hash": _value_hash(normalize(rows, cols))}
    return out


def _expectations(star_dir: str, registry, names: list[str]) -> dict[str, dict]:
    """Row count and order-insensitive value hash of each slot's DuckDB
    oracle on the star tables, cached by data version and oracle text.
    Missing ones are computed in a child process, so that DuckDB's memory
    never counts toward the driver's peak."""
    path = os.path.join(inputs.CACHE_DIR, "oracle.json")
    try:
        with open(path) as fh:
            cache = json.load(fh)
    except FileNotFoundError:
        cache = {}
    keys = {
        name: f"{os.path.basename(star_dir)}:{name}:"
              f"{hashlib.sha256(registry[name].oracle.encode()).hexdigest()}"
        for name in names
    }
    missing = {keys[n]: registry[n].oracle for n in names if keys[n] not in cache}
    if missing:
        with multiprocessing.get_context("spawn").Pool(1) as pool:
            cache.update(pool.apply(_oracle_hashes, (star_dir, missing)))
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {name: cache[keys[name]] for name in names}


def _matches(star_dir: str, sql: str, rows: list[tuple], cols: list[str], want: dict) -> bool:
    got = normalize(rows, cols)
    if len(got) == want["rows"] and _value_hash(got) == want["hash"]:
        return True
    d_rows, d_cols = _oracle_rows(_duck(star_dir), sql)
    expect = normalize(d_rows, d_cols)
    scale = max([abs(v[1]) for r in expect for v in r if v[0] == "f" and v[1] != "nan"] + [1.0])
    diff = float_diff(got, expect)
    print(f"# value hash differs; max float difference {diff:.3e} (scale {scale:.3e})", file=sys.stderr)
    return diff <= FLOAT_TOLERANCE * scale


def sf01_headline(run: Run) -> tuple[dict, dict]:
    star = inputs.ensure_star(SF_MEASURED)
    small = inputs.ensure_star(SF_CHECKED)
    registry = catalog_all()
    names = list(bench.HEADLINE)
    random.Random(run.seed).shuffle(names)
    want = _expectations(star, registry, names)
    want_small = _expectations(small, registry, names)
    run.phase("inputs")

    def orders_by_year(spark, rep_dir, frames) -> str:
        ensure_orders_by_year(spark, os.path.join(rep_dir, "data"))
        return "sources.orders_by_year_s"

    data_dir, _ = run.setup(list(FIXTURE_TABLES), star, orders_by_year)
    spark, tracer = run.spark, run.tracer
    run.phase("setup")

    # Warm-up pass, which is also the correctness pass: the full result of
    # every slot on the small tables against its oracle's value hash.
    for name in names:
        run.attempted += 1
        spec = registry[name]
        try:
            table = spec.builder(spark, small).toArrow()
            rows = list(zip(*(c.to_pylist() for c in table.columns)))
            ok = _matches(small, spec.oracle, rows, table.column_names, want_small[name])
        except Exception:
            run.error("spark", f"verify {name}")
            ok = False
        finally:
            release_session_caches()
        if not ok:
            print(f"# {name}: result differs from its oracle", file=sys.stderr)
            run.failed += 1

    run.phase("warmup")

    def read_op(name: str, rec: dict) -> int | None:
        rec["released"] = 0
        df = None
        try:
            with tracer.span("plans.build"):
                df = registry[name].builder(spark, data_dir)
            with tracer.span("spark.action"):
                counted = df.groupBy().count()
                n = counted.collect()[0][0]
            if tracer.enabled:
                rec["qe"].append(counted._jdf.queryExecution())
            return n
        except Exception:
            run.error("plans" if df is None else "spark", name)
            return None
        finally:
            with tracer.span("plans.cache_release"):
                rec["released"] = release_session_caches()

    def run_op(name: str, op_id: str) -> dict:
        with tracer.op(op_id) as rec:
            n = read_op(name, rec)
        run.attempted += 1
        run.failed += n != want[name]["rows"]
        return rec

    passes = run.measure(names, run_op, window="spark.action")
    run.phase("measure")
    e2e = end_to_end(run, passes)
    layers = None
    if run.traced:
        layers = per_layer(run, passes, lambda ops: {
            "plans.caches_released": sum(op["released"] for op in ops),
        })
    return e2e, layers


# -- incremental_load --------------------------------------------------------

def _dir_files(path: str) -> dict[str, int]:
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    }


def _same_rows(con, a: str, b: str, cols: list[str]) -> bool:
    sel = ", ".join(cols)
    diff = con.sql(
        f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL SELECT {sel} FROM {b}))"
        f" + (SELECT count(*) FROM (SELECT {sel} FROM {b} EXCEPT ALL SELECT {sel} FROM {a}))"
    ).fetchone()[0]
    return diff == 0


def _replay_matches(star: str, applied: list[dict], table_dir: str, lineitem_dir: str,
                    readback: dict) -> bool:
    """Replay the applied batches in DuckDB and compare the final tables
    and the last read-back with what the engine left on disk."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE TABLE o AS SELECT * FROM '{star}/orders.parquet'")
    con.execute(f"CREATE TABLE l AS SELECT * FROM '{star}/lineitem.parquet'")
    for b in applied:
        if b["upsert"]:
            con.execute(
                f"CREATE OR REPLACE TABLE o AS SELECT * FROM o WHERE o_orderkey NOT IN "
                f"(SELECT o_orderkey FROM '{b['orders']}') UNION ALL SELECT * FROM '{b['orders']}'"
            )
        if b["append"]:
            con.execute(
                f"INSERT INTO l SELECT * FROM '{b['lineitem']}' n WHERE NOT EXISTS (SELECT 1 FROM l "
                f"WHERE l.l_orderkey = n.l_orderkey AND l.l_linenumber = n.l_linenumber)"
            )
    o_cols = sorted(c for c, in con.sql("SELECT column_name FROM (DESCRIBE o)").fetchall())
    l_cols = sorted(c for c, in con.sql("SELECT column_name FROM (DESCRIBE l)").fetchall())
    counts = dict(con.sql("SELECT o_orderstatus, count(*) FROM o GROUP BY 1").fetchall())
    ok = {
        "orders": _same_rows(con, "o", f"'{current_path(table_dir)}/*.parquet'", o_cols),
        "lineitem": _same_rows(con, "l", f"'{lineitem_dir}/*.parquet'", l_cols),
        "readback": counts == readback,
    }
    for what, good in ok.items():
        if not good:
            print(f"# incremental_load: {what} differs from the DuckDB replay", file=sys.stderr)
    return all(ok.values())


def incremental_load(run: Run) -> tuple[dict, dict]:
    star = inputs.ensure_star(inputs.BATCH_SF)
    line_keys = inputs.base_line_keys(star)
    batch_dir = os.path.join(run.work, "batches")
    os.makedirs(batch_dir)
    run.phase("inputs")

    def initial_version(spark, rep_dir, frames) -> str:
        # The append target starts as the generated line items; the
        # copy-on-write table starts as version 0 of the orders.
        os.makedirs(os.path.join(rep_dir, "lineitem"))
        shutil.copyfile(os.path.join(star, "lineitem.parquet"),
                        os.path.join(rep_dir, "lineitem", "base.parquet"))
        merge_upsert(spark, os.path.join(rep_dir, "orders"), frames["orders"], ORDER_KEYS)
        return "merge.init_s"

    _, frames = run.setup(["orders", "lineitem"], star, initial_version)
    spark, tracer = run.spark, run.tracer
    rep_dir = os.path.join(run.work, f"setup{SETUP_REPS - 1}")
    table_dir = os.path.join(rep_dir, "orders")
    lineitem_dir = os.path.join(rep_dir, "lineitem")
    o_schema, l_schema = frames["orders"].schema, frames["lineitem"].schema
    applied: list[dict] = []
    state = {"readback": {}, "next": 0}
    run.phase("setup")

    def batch_op(rec: dict, orders_path: str, lineitem_path: str) -> bool:
        done = {"orders": orders_path, "lineitem": lineitem_path, "upsert": False, "append": False}
        applied.append(done)
        ok = True
        try:
            with tracer.span("merge.upsert"):
                merge_upsert(spark, table_dir, spark.read.schema(o_schema).parquet(orders_path), ORDER_KEYS)
            done["upsert"] = True
        except Exception:
            run.error("merge", f"upsert {orders_path}")
            ok = False
        try:
            with tracer.span("writers.append"):
                fresh = idempotent_append(
                    spark.read.schema(l_schema).parquet(lineitem_path),
                    spark.read.schema(l_schema).parquet(lineitem_dir),
                    LINE_KEYS,
                    lambda df: write_parquet(df, lineitem_dir, mode="append"),
                )
                fresh.unpersist()
            done["append"] = True
        except Exception:
            run.error("writers", f"append {lineitem_path}")
            ok = False
        try:
            with tracer.span("merge.read"):
                agg = read_merged(spark, table_dir).groupBy("o_orderstatus").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total")
                )
                rows = agg.collect()
            if tracer.enabled:
                rec["qe"].append(agg._jdf.queryExecution())
            state["readback"] = {r["o_orderstatus"]: r["n"] for r in rows}
        except Exception:
            run.error("merge", "read-back")
            ok = False
        try:
            with tracer.span("merge.vacuum"):
                vacuum(table_dir, keep_last=2)
        except Exception:
            run.error("merge", "vacuum")
            ok = False
        return ok

    def run_op(key: str, op_id: str) -> dict:
        b = state["next"]
        state["next"] += 1
        orders_path, lineitem_path = inputs.write_batch(line_keys, run.seed, b, batch_dir)
        before = _dir_files(lineitem_dir) if tracer.enabled else None
        with tracer.op(op_id) as rec:
            ok = batch_op(rec, orders_path, lineitem_path)
        run.attempted += 1
        run.failed += not ok
        if before is not None:
            version = _dir_files(current_path(table_dir))
            added = {f: n for f, n in _dir_files(lineitem_dir).items() if f not in before}
            rec["bytes_in"] = os.path.getsize(orders_path) + os.path.getsize(lineitem_path)
            rec["merge_bytes"] = sum(version.values())
            rec["merge_files"] = len(version)
            rec["append_bytes"] = sum(added.values())
            rec["rows_appended"] = sum(
                pq.read_metadata(os.path.join(lineitem_dir, f)).num_rows for f in added
            )
        return rec

    run_op("warmup", "warmup")
    run.phase("warmup")
    passes = run.measure([f"batch{i}" for i in range(BATCHES_PER_PASS)], run_op, window="op")
    run.phase("measure")
    # Before the replay, whose DuckDB memory is the benchmark's own.
    e2e = end_to_end(run, passes)

    run.attempted += 1
    if not _replay_matches(star, applied, table_dir, lineitem_dir, state["readback"]):
        run.failed += 1
    run.phase("check")
    run.notes["batches"] = state["next"]

    layers = None
    if run.traced:
        def extras(ops: list[dict]) -> dict[str, float]:
            reads = [
                s["end"] - s["start"] for s in run.tracer.spans
                if s["name"] == "merge.read" and s["op"] in {op["id"] for op in ops}
            ]
            return {
                "merge.bytes_written": sum(op["merge_bytes"] for op in ops),
                "merge.files_written": sum(op["merge_files"] for op in ops),
                "writers.rows_appended": sum(op["rows_appended"] for op in ops),
                "readback_p50_s": statistics.median(reads),
                "write_amp": sum(op["merge_bytes"] + op["append_bytes"] for op in ops)
                / sum(op["bytes_in"] for op in ops),
            }

        layers = per_layer(run, passes, extras)
    return e2e, layers


WORKLOADS = {"sf01_headline": sf01_headline, "incremental_load": incremental_load}
