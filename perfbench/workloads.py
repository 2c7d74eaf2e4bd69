"""The three workloads: set-up, the closed loop of timed operations, and the
output checks.

Every workload is one client in a closed loop: the next operation starts when
the previous one returns, until the run's seconds are used up (at least one
operation, or one pass for query_serving). Checks run untimed, after the loop
or between operations; a failed check marks its operation failed and the run
goes on.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import sys
import time
import traceback
from datetime import datetime, timedelta

from reciping_data_pipeline_spark.pipeline import analytics, bronze, datagen, dims, gold, runner, silver
from reciping_data_pipeline_spark.sources import jsonl

import oracle
from spans import Tracer, layer_totals, self_times

# Fixture shapes: (users, days). "full" is the benchmark of record; "tiny"
# exists for the benchmark's own tests.
SIZES = {
    "full": {"bulk": (3_000, 5), "warm": (200, 1), "history": (1_500, 3),
             "replay": (3_000, 1), "gold": (800, 5), "catalog_per_module": None},
    "tiny": {"bulk": (120, 2), "warm": (20, 1), "history": (100, 2),
             "replay": (300, 1), "gold": (150, 3), "catalog_per_module": 1},
}
START = datetime(2025, 9, 1)
TIME_DIM = ("2025-09-01 00:00:00", "2025-09-07 23:00:00")
STEP = timedelta(minutes=15)
# Sample-size gates and A/B window fitted to the gold fixture (reference
# defaults would return empty results on it); the same on both engines.
DASHBOARD_PARAMS = {"min_users": 5, "start": "2025-09-01", "end": "2025-09-05"}
MEDALLION_LAYERS = ("jsonl", "bronze", "silver", "dims", "gold")


class Run:
    """One benchmark run: its session, working directory, timed operations
    and check failures. ``tracer`` is None on the untraced run."""

    def __init__(self, spark, work: str, seed: int, seconds: float, size: str,
                 cores: int, tracer: Tracer | None):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.size, self.cores, self.tracer = SIZES[size], cores, tracer
        self.ops: list[dict] = []  # timed operations
        self.checks: list[dict] = []  # untimed operations made only to check outputs
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.info: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str, fn, span: str | None = None, timed: bool = True) -> dict:
        """Run ``fn`` as one operation. An exception fails the operation and
        is reported on stderr; the run continues."""
        t = self.tracer
        if t:
            t.collect()  # spans opened outside timed operations keep their own op
            t.op, t.files_written, t.bytes_written = name, 0, 0
            gc0 = t.gc_seconds()
        op = {"name": name, "ok": True}
        t0 = time.perf_counter()
        try:
            if t and span:
                with t.span(span):
                    op["value"] = fn(op)
            else:
                op["value"] = fn(op)
        except Exception:
            op["ok"] = False
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            print(f"[perfbench] {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
        op["s"] = time.perf_counter() - t0
        if t:
            op["spans"] = t.collect()
            op["gc_s"] = t.gc_seconds() - gc0
            op["files_written"], op["bytes_written"] = t.files_written, t.bytes_written
        (self.ops if timed else self.checks).append(op)
        return op

    def check(self, op: dict, ok: bool, what: str) -> None:
        if not ok:
            op["ok"] = False
            self.failures.append(f"{op['name']}: {what}")
            print(f"[perfbench] check failed: {op['name']}: {what}", file=sys.stderr)

    def loop(self, step) -> None:
        """Closed loop: call ``step(i)`` until the run's seconds are used up."""
        t0 = time.perf_counter()
        i = 0
        while step(i) is not False:
            i += 1
            if time.perf_counter() - t0 >= self.seconds:
                break
        self.info["loop_s"] = time.perf_counter() - t0


# ---------------------------------------------------------------- fixtures

def make_fixture(run: Run, name: str, seed: int, start: datetime = START, partitioned: bool = True) -> dict:
    users, days = run.size[name]
    fix = datagen.generate_fixture(run.path(name), seed=seed, n_users=users, n_days=days, start=start,
                                   partitioned=partitioned)
    fix.pop("users")
    run.info.setdefault("fixtures", {})[name] = {"seed": seed, "users": users, "days": days,
                                                 "events": fix["n_events"], "files": len(fix["files"])}
    return fix


def staging_facts(files: list[str]) -> dict:
    """Expected layer contents, computed from the staging JSONL without Spark:
    line count, distinct valid event ids, and per fact FK how many of those
    events carry the natural key the dimension join resolves."""
    lines, fk, ids = 0, dict.fromkeys(gold.FK_KEYS, 0), set()
    for path in files:
        with open(path) as f:
            for line in f:
                lines += 1
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # corrupt line: quarantined by silver
                if not isinstance(ev, dict) or ev.get("event_id") is None or ev["event_id"] in ids:
                    continue
                ids.add(ev["event_id"])
                page = json.loads(ev["context"]).get("page") or {}
                fk["user_dim_key"] += ev.get("user_id") is not None
                fk["recipe_dim_key"] += "recipe_id" in json.loads(ev["event_properties"])
                fk["event_dim_key"] += ev.get("event_name") is not None
                fk["page_dim_key"] += page.get("name") is not None or page.get("url") is not None
    return {"lines": lines, "ids": ids, "fk": fk}


def fixture_digest(files: list[str]) -> str:
    h = hashlib.sha256()
    for path in sorted(files):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def table_rows(spark, warehouse: str) -> dict[str, int]:
    return {
        "bronze": bronze.read_bronze(spark, warehouse).count(),
        "silver": silver.read_silver(spark, warehouse).count(),
        "fact": gold.read_fact(spark, warehouse).count(),
        "dim_user": dims.read_dim(spark, warehouse, "dim_user").count(),
    }


# ------------------------------------------------------------- workloads

def bulk_backfill(run: Run) -> None:
    spark, seed = run.spark, run.seed
    t0 = time.perf_counter()
    fix = make_fixture(run, "bulk", seed)
    warm = make_fixture(run, "warm", seed + 1)
    runner.bulk_backfill(spark, warm["staging_dir"], run.path("wh-warm"), warm["recipe_master"],
                         datetime(2025, 9, 6), time_dim_range=TIME_DIM)
    run.setup_s = time.perf_counter() - t0
    run.info["fixture_sha256"] = fixture_digest(fix["files"])

    last = {}

    # Each repetition builds into a fresh warehouse. Old warehouses are left
    # for the end-of-run cleanup: deleting files mid-loop puts disk work
    # (discards on this kind of volume) next to the next timed build.
    def step(i: int) -> None:
        last["wh"] = run.path(f"wh-{i}")
        last["op"] = run.op(f"bulk-{i}", lambda op: runner.bulk_backfill(
            spark, fix["staging_dir"], last["wh"], fix["recipe_master"], datetime(2025, 9, 6),
            time_dim_range=TIME_DIM), span="runner")

    run.loop(step)
    run.info["peak_rss_mb"] = jvm_peak_rss_mb(spark)

    want = staging_facts(fix["files"])
    n = len(want["ids"])
    for op in run.ops:
        r = op.get("value")
        if not op["ok"]:
            continue
        run.check(op, r.bronze_rows == want["lines"], f"bronze rows {r.bronze_rows} != staging lines {want['lines']}")
        run.check(op, r.silver_rows == n, f"silver rows {r.silver_rows} != distinct valid ids {n}")
        run.check(op, r.fact_rows == r.silver_rows, f"fact rows {r.fact_rows} != silver rows {r.silver_rows}")
        for k in gold.FK_KEYS:
            rate = want["fk"][k] / n
            run.check(op, abs(r.join_success[k] - rate) < 1e-9, f"{k} join rate {r.join_success[k]} != {rate}")
    if last.get("op", {}).get("ok"):
        got = table_rows(spark, last["wh"])
        run.check(last["op"], (got["bronze"], got["silver"], got["fact"]) == (want["lines"], n, n),
                  f"written tables {got} != lines {want['lines']} / ids {n}")
    run.info["rows"] = {"staging_lines": want["lines"], "silver": n}
    run.info["named"] = {"bulk_s": median_s(run.ops)}


def incremental_replay(run: Run) -> None:
    spark, seed = run.spark, run.seed
    wh = run.path("wh")
    t0 = time.perf_counter()
    hist = make_fixture(run, "history", seed)
    replay_day = START + timedelta(days=run.size["history"][1])
    replay = make_fixture(run, "replay", seed + 1, start=replay_day)
    # Bootstrap the evening before the replayed day, as a nightly bulk would.
    runner.bulk_backfill(spark, hist["staging_dir"], wh, hist["recipe_master"],
                         replay_day - timedelta(hours=1), time_dim_range=TIME_DIM)
    run.setup_s = time.perf_counter() - t0

    def step(i: int):
        if i == 24 * 60 // 15:
            return False  # the whole day is replayed
        start = replay_day + i * STEP
        run.op(f"interval-{start:%H:%M}", lambda op: runner.incremental_run(
            spark, replay["staging_dir"], wh, start, start + STEP), span="runner")

    run.loop(step)
    run.info["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    replayed = [replay_day + i * STEP for i in range(len(run.ops))]

    files = list(hist["files"])
    for start in replayed:
        files += [os.path.join(p, "events.jsonl")
                  for p in jsonl.interval_paths(replay["staging_dir"], start, start + STEP) if os.path.isdir(p)]
    want = staging_facts(files)
    n = len(want["ids"])
    last = run.ops[-1]
    got = table_rows(spark, wh)
    run.check(last, (got["bronze"], got["silver"], got["fact"]) == (want["lines"], n, n),
              f"end-state tables {got} != lines {want['lines']} / ids {n}")

    first = replayed[0]
    rerun = run.op("rerun-interval", lambda op: runner.incremental_run(
        spark, replay["staging_dir"], wh, first, first + STEP), timed=False)
    after = table_rows(spark, wh)
    run.check(rerun, after == got, f"re-running a landed interval changed row counts {got} -> {after}")

    run.info["rows"] = {"staging_lines": want["lines"], "silver": n, "intervals": len(replayed)}
    tail, pct = tail_s([op["s"] for op in run.ops])
    run.info["named"] = {"interval_p50_s": median_s(run.ops), "interval_tail_s": tail,
                         "interval_tail_pct": pct}


def query_serving(run: Run) -> None:
    spark, seed = run.spark, run.seed
    wh = run.path("wh")
    t0 = time.perf_counter()
    fix = make_fixture(run, "gold", seed, partitioned=False)
    runner.bulk_backfill(spark, fix["staging_dir"], wh, fix["recipe_master"], datetime(2025, 9, 6),
                         time_dim_range=TIME_DIM)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    analytics.register_gold_views(spark, wh, cache=True)
    for v in analytics.GOLD_VIEWS:
        spark.table(v).count()  # fill the view caches
    digests = oracle.load_digests()
    catalog = catalog_queries(digests, run.size["catalog_per_module"])
    run.setup_s = time.perf_counter() - t0
    dashboard = sorted(analytics.all_analytics())

    def analytics_op(name: str):
        def fn(op):
            op["module"] = "analytics"
            with span(run, "analytics.plan"):
                df = spark.sql(analytics.sql_for(name, **DASHBOARD_PARAMS))
            with span(run, "analytics.exec"):
                df.write.format("noop").mode("overwrite").save()
        return fn

    def catalog_op(q):
        module = q.fn.__module__.rsplit(".", 1)[-1]

        def fn(op):
            op["module"] = module
            with span(run, f"{module}.build"):
                df = q.fn(spark, oracle.CATALOG_DIR)
            with span(run, f"{module}.exec"):
                df.write.format("noop").mode("overwrite").save()
        return fn

    # Operation names carry their set: "dau" is both a dashboard and a
    # catalog query.
    def one_pass(i: int) -> None:
        for name in dashboard:
            run.op(f"dashboard/{name}", analytics_op(name))
        for name, q in catalog.items():
            run.op(f"catalog/{name}", catalog_op(q))

    # The first pass times every query's first execution in the session,
    # with the JVM warmed by the set-up build.
    run.loop(one_pass)
    run.info["peak_rss_mb"] = jvm_peak_rss_mb(spark)

    # Each run checks a seeded quarter of both sets (checking all of them
    # would add a second pass to the run); four consecutive seeds cover
    # every query.
    # Dashboard queries are compared with their DuckDB variants over the
    # built gold parquet, catalog queries with the recorded oracle digests.
    duck = gold_connection(wh)
    every = [f"dashboard/{n}" for n in dashboard] + [f"catalog/{n}" for n in catalog]
    checked = [op_name for i, op_name in enumerate(every) if i % 4 == seed % 4]
    for op_name in checked:
        kind, name = op_name.split("/")
        if kind == "catalog":
            op = run.op(f"check:{op_name}", lambda op: oracle.spark_digest(
                catalog[name].fn(spark, oracle.CATALOG_DIR)), timed=False)
            want = digests[name]
        else:
            op = run.op(f"check:{op_name}", lambda op: oracle.spark_digest(
                spark.sql(analytics.sql_for(name, **DASHBOARD_PARAMS))), timed=False)
            want = oracle.duck_digest(duck, analytics.sql_for(name, engine="duckdb", **DASHBOARD_PARAMS))
        if op["ok"] and op["value"] != want:
            run.check(op, False, f"{op['value']} != oracle {want}")
            for timed_op in run.ops:
                if timed_op["name"] == op_name:
                    run.check(timed_op, False, "output differs from its oracle")
    duck.close()

    per_query = per_query_medians(run.ops)
    cat = [per_query[f"catalog/{n}"] for n in catalog]
    run.info["queries"] = {"dashboard": len(dashboard), "catalog": len(catalog), "checked": checked,
                           "catalog_dir": os.path.relpath(oracle.CATALOG_DIR, os.path.dirname(oracle.HERE))}
    run.info["named"] = {
        "dashboard_21q_s": sum(per_query[f"dashboard/{n}"] for n in dashboard),
        "catalog_total_s": sum(cat),
        "catalog_geomean_s": statistics.geometric_mean(cat),
    }


WORKLOADS = {"bulk_backfill": bulk_backfill, "incremental_replay": incremental_replay,
             "query_serving": query_serving}


# ----------------------------------------------------------------- helpers

def span(run: Run, name: str):
    return run.tracer.span(name) if run.tracer else contextlib.nullcontext()


def catalog_queries(digests: dict, per_module: int | None) -> dict:
    """The catalog rows whose oracle digests are recorded, optionally only
    the first ``per_module`` of each module."""
    queries = oracle.bench_queries()
    queries = {n: queries[n] for n in sorted(digests)}
    if per_module is None:
        return queries
    seen: dict[str, int] = {}
    out = {}
    for name, q in queries.items():
        m = q.fn.__module__
        if seen.get(m, 0) < per_module:
            seen[m] = seen.get(m, 0) + 1
            out[name] = q
    return out


def gold_connection(warehouse: str):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW fact_user_events AS SELECT * FROM read_parquet("
                f"'{warehouse}/fact_user_events/**/*.parquet', hive_partitioning=1)")
    for d in analytics.GOLD_VIEWS[1:]:
        con.execute(f"CREATE VIEW {d} AS SELECT * FROM read_parquet('{warehouse}/{d}/*.parquet')")
    return con


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set size of the driver JVM (``VmHWM``)."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def median_s(ops: list[dict]) -> float:
    return statistics.median(op["s"] for op in ops)


def tail_s(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and that
    percentile; with ten samples or fewer, the maximum (percentile 100)."""
    xs = sorted(samples)
    if len(xs) <= 10:
        return xs[-1], 100.0
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs)


def trace_coverage(run: Run) -> float:
    """Median share of an operation's wall time that its spans' self times
    account for (the rest is benchmark code between the calls)."""
    return statistics.median(sum(self_times(op["spans"]).values()) / op["s"] for op in run.ops)


def per_query_medians(ops: list[dict]) -> dict[str, float]:
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op["name"], []).append(op["s"])
    return {n: statistics.median(v) for n, v in by_name.items()}


def layer_metrics(run: Run, names: list[str]) -> dict[str, float]:
    """Per-layer metrics of a traced run, every name in ``names`` present
    (0 where the workload does not enter that layer). Medallion workloads
    report per-operation medians; query_serving reports one pass (the sum
    over queries of each query's median)."""
    cores = run.cores
    rows = []
    for op in run.ops:
        totals = layer_totals(op["spans"], cores)
        row = {"jvm.gc_s": op["gc_s"], "writers.files_written": op["files_written"],
               "writers.bytes_written": op["bytes_written"],
               "spark.failed_tasks": sum(t["failed_tasks"] for t in totals.values())}
        for layer in MEDALLION_LAYERS:
            t = totals.get(layer)
            if t:
                row.update({f"{layer}.{k}": t[k] for k in
                            ("s", "jobs", "input_bytes", "shuffle_bytes", "spill_bytes", "core_util")})
        if "runner" in totals:
            row["runner.other_s"] = totals["runner"]["s"]
        module = op.get("module")
        if module:
            first = "plan" if module == "analytics" else "build"
            a, b = totals.get(f"{module}.{first}", {}), totals.get(f"{module}.exec", {})
            row[f"{module}.{first}_s"] = a.get("s", 0.0)
            row[f"{module}.exec_s"] = b.get("s", 0.0)
            for k in ("jobs", "tasks", "input_bytes", "shuffle_bytes", "task_s"):
                row[f"{module}.{k}"] = a.get(k, 0) + b.get(k, 0)
        rows.append((op["name"], row))

    out: dict[str, float] = {}
    if any(op.get("module") for op in run.ops):
        by_query: dict[str, list[dict]] = {}
        for name, row in rows:
            by_query.setdefault(name, []).append(row)
        for samples in by_query.values():
            for k in set().union(*samples):
                out[k] = out.get(k, 0) + statistics.median(r.get(k, 0) for r in samples)
        for key in list(out):
            if key.endswith(".task_s"):
                m = key[: -len(".task_s")]
                busy = out.get(f"{m}.plan_s", 0) + out.get(f"{m}.build_s", 0) + out.get(f"{m}.exec_s", 0)
                out[f"{m}.core_util"] = out[key] / (busy * cores) if busy > 0 else 0.0
    else:
        for k in set().union(*(r for _, r in rows)):
            out[k] = statistics.median(r.get(k, 0) for _, r in rows)
        growth = [r.get("bronze.input_bytes", 0) for _, r in rows]
        q = max(1, len(growth) // 4)
        first = statistics.mean(growth[:q])
        out["bronze.input_growth"] = statistics.mean(growth[-q:]) / first if first else 0.0
    return {n: float(out.get(n, 0.0)) for n in names}
