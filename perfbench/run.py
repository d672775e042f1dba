"""Benchmark of the trip ETL and the registered analytics queries.

Usage (from the repository root)::

    python3 perfbench/run.py --workload etl_import --seed 1 --seconds 12 --trace 0

Workloads (one single-process client, closed loop: the next call starts
when the previous one returns; Spark runs on ``local[4]``):

- ``etl_import``: ``pipeline.run`` over a generated trip CSV, with
  file-order line numbers, a parquet clean sink and the duplicates CSV;
- ``etl_stats``: ``pipeline.run_stats_only`` over the same kind of file;
- ``query_mix``: the registered queries listed in ``query_mix.json`` on
  generated tables, each written through the noop sink.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload's calls under per-layer spans and prints the per-layer metrics.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402

PACKAGE = "etl_developstoday_test_spark"
CORES = 4
ETL_ROWS = 200_000
HEAD_LINES = 20_000
TABLE_SCALE = 0.01
SETUP_REPS = 3
# repetitions of each traced call; spans report the median
TRACE_REPS = 3
# untimed full JVM GC every this many queries (ETL: between calls)
GC_EVERY = 10

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
SPAN_FIELDS = {
    "s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "executor_run_s": "s",
}
ETL_SPANS = (
    "sources.read_trips_csv",
    "sources.scan",
    "operators.parse",
    "operators.normalize",
    "operators.dedup",
    "sinks.write_trips_parquet",
    "sinks.write_duplicates_csv",
    "pipeline.run",
    "pipeline.run_stats_only",
)
QUERY_SPANS = ("plans.queries.build", "plans.queries.exec")
PER_LAYER_EXTRA_UNITS = {
    "pipeline.read_amplification": "ratio",
    "pipeline.busy_frac": "ratio",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "plans.queries.jobs_per_query": "count",
    "plans.queries.busy_frac": "ratio",
    "trace.overhead_s": "s",
}


# ---------------------------------------------------------------------------
# measurement helpers


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (a forked
    Python worker and its daemon) are split between them, not repeated."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _processes() -> dict[int, tuple[int, str]]:
    """Parent pid and command name of every process, from one pass over
    ``/proc/*/stat``: far cheaper than walking the JVM's hundreds of
    threads, and the sampler shares the interpreter lock with the client."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while being read
        # the command name is in parentheses and may hold spaces
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        out[int(entry)] = (int(stat[stat.rindex(")") + 2 :].split()[1]), comm)
    return out


def _spark_memory_kb(jvm_pid: int) -> int:
    """Memory of the Spark JVM plus the Python processes under it.

    Other descendants (short-lived helpers the JVM spawns) are skipped:
    while being spawned they still map the JVM's own memory."""
    procs = _processes()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [jvm_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        if pid == jvm_pid or procs.get(pid, (0, ""))[1].startswith("python"):
            try:
                total += _pss_kb(pid)
            except (FileNotFoundError, ProcessLookupError):
                continue  # the process ended while being read
    return total


class RssSampler:
    """Peak resident memory of the Spark JVM and its Python workers."""

    def __init__(self, interval: float = 0.5):
        from pyspark import SparkContext

        self.pid = SparkContext._gateway.proc.pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _spark_memory_kb(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _spark_memory_kb(self.pid))


def _full_gc(spark) -> None:
    """Drop Python-side references, then collect the JVM heap, so Spark's
    cleaner frees the previous call's shuffle and broadcast blocks."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def _context(spark) -> dict:
    sc = spark.sparkContext
    return {
        "load_1m": os.getloadavg()[0],
        "cpus": os.cpu_count(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_version": spark.version,
    }


# ---------------------------------------------------------------------------
# workloads


class Workload:
    """Generate inputs, set up, run the timed loop, check outputs."""

    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    # subclasses: generate(), warm_up(spark), timed_loop(spark, seconds),
    # metrics() -> (wall_s, latencies, rows), traced(spark, tracer)


class EtlWorkload(Workload):
    def generate(self) -> None:
        import trips_gen

        self.csv = os.path.join(self.work, "trips.csv")
        self.expected = trips_gen.generate(self.csv, self.seed, ETL_ROWS)
        self.head = os.path.join(self.work, "head.csv")
        with open(self.csv) as src, open(self.head, "w") as dst:
            for _, line in zip(range(HEAD_LINES), src):
                dst.write(line)
        self.out = os.path.join(self.work, "trips_parquet")
        self.dups = os.path.join(self.work, "duplicates_csv")

    def settings(self, path: str):
        from etl_developstoday_test_spark import EtlSettings

        return EtlSettings(input_path=path, duplicates_path=self.dups, output_path=self.out)

    def clear_outputs(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.dups, ignore_errors=True)

    def warm_up(self, spark) -> None:
        self.call(spark, self.settings(self.head))
        self.clear_outputs()

    def attempt(self, spark, settings) -> float:
        """One call, checked outside its timing; returns its wall time."""
        self.attempted += 1
        start = time.perf_counter()
        try:
            stats = self.call(spark, settings)
        except Exception as exc:
            self.fail(f"call raised {type(exc).__name__}: {exc}"[:300])
            return time.perf_counter() - start
        elapsed = time.perf_counter() - start
        problem = self.check(spark, stats)
        if problem:
            self.fail(problem)
        return elapsed

    def timed_loop(self, spark, seconds: float) -> None:
        self.latencies: list[float] = []
        settings = self.settings(self.csv)
        # one untimed, checked call over the whole file first: the JIT
        # compiles the hot loops at full volume, which the head does not
        self.clear_outputs()
        self.attempt(spark, settings)
        while sum(self.latencies) < seconds:
            self.clear_outputs()
            _full_gc(spark)
            self.latencies.append(self.attempt(spark, settings))
        self.clear_outputs()

    def check(self, spark, stats: dict) -> str | None:
        if stats != self.expected["counters"]:
            return f"counters {stats} != {self.expected['counters']}"
        return None

    @property
    def samples(self) -> dict[str, list[float]]:
        return {self.pipeline_span: self.latencies}

    def metrics(self):
        return statistics.median(self.latencies), self.latencies, self.expected["data_rows"]

    def traced(self, spark, tracer) -> dict[str, float]:
        from etl_developstoday_test_spark.operators.dedup import first_wins_dedup
        from etl_developstoday_test_spark.operators.normalize import normalize_trips
        from etl_developstoday_test_spark.operators.parse import parse_trips, split_valid
        from etl_developstoday_test_spark.pipeline import DEDUP_KEYS
        from etl_developstoday_test_spark.schemas import CLEAN_SCHEMA, LINE_NUMBER
        from etl_developstoday_test_spark.sinks import write_duplicates_csv, write_trips_parquet
        from etl_developstoday_test_spark.sources.csv_source import read_trips_csv

        out: dict[str, float] = {}
        settings = self.settings(self.csv)
        self.clear_outputs()
        self.call(spark, settings)  # untimed: JIT warm-up at full volume

        # the whole call, untraced and traced in turn: the difference of
        # the medians is the cost of the job group and counter read-back
        untraced, traced, whole = [], [], []
        for _ in range(TRACE_REPS):
            self.clear_outputs()
            _full_gc(spark)
            start = time.perf_counter()
            self.call(spark, settings)
            untraced.append(time.perf_counter() - start)
            self.clear_outputs()
            _full_gc(spark)
            start = time.perf_counter()
            with tracer.span(self.pipeline_span):
                stats = self.call(spark, settings)
            traced.append(time.perf_counter() - start)
            whole.append(tracer.last())
            self.attempted += 1
            problem = self.check(spark, stats)
            if problem:
                self.fail(problem)
        out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        call = _median_span(whole)
        _put_span(out, self.pipeline_span, call)
        out["pipeline.read_amplification"] = call["input_bytes"] / self.expected["bytes"]
        out["pipeline.busy_frac"] = call["executor_run_s"] / (call["s"] * CORES)
        out["sinks.bytes_written"], out["sinks.files_written"] = self.sink_files()

        # prefixes, each materialized fresh through the noop sink; a
        # layer's self figures are its prefix's minus those of its base
        samples: dict[str, list[dict]] = {}
        for _ in range(TRACE_REPS):
            with tracer.span("sources.read_trips_csv"):
                raw = read_trips_csv(spark, self.csv)
            samples.setdefault("sources.read_trips_csv", []).append(tracer.last())
        parsed = parse_trips(raw)
        normed = normalize_trips(split_valid(parsed)[0])
        steps = [
            ("sources.scan", lambda: _noop(raw), None),
            ("operators.parse", lambda: _noop(parsed), "sources.scan"),
            ("operators.normalize", lambda: _noop(normed), "operators.parse"),
        ]
        if self.pipeline_span == "pipeline.run":
            winners, losers = first_wins_dedup(normed, DEDUP_KEYS, LINE_NUMBER)
            # the winners as the parquet sink reads them: without the raw
            # string columns, which only the duplicates side carries
            clean = winners.select(*[f.name for f in CLEAN_SCHEMA.fields])
            steps += [
                ("operators.dedup", lambda: _noop(clean), "operators.normalize"),
                ("sinks.write_trips_parquet",
                 lambda: write_trips_parquet(winners, self.out), "operators.dedup"),
                ("sinks.write_duplicates_csv",
                 lambda: write_duplicates_csv(losers, self.dups), "operators.dedup"),
            ]
        for _ in range(TRACE_REPS):
            for name, action, _base in steps:
                self.clear_outputs()
                _full_gc(spark)
                with tracer.span(name):
                    action()
                samples.setdefault(name, []).append(tracer.last())
        self.clear_outputs()
        med = {name: _median_span(spans) for name, spans in samples.items()}
        _put_span(out, "sources.read_trips_csv", med["sources.read_trips_csv"])
        for name, _action, base in steps:
            _put_span(out, name, med[name], med[base] if base else None)
        return out

    def sink_files(self) -> tuple[int, int]:
        size = files = 0
        for top in (self.out, self.dups):
            for dirpath, _dirs, names in os.walk(top):
                for n in names:
                    if not n.startswith((".", "_")):  # skip checksums and markers
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, n))
        return size, files


class EtlImport(EtlWorkload):
    name = "etl_import"
    pipeline_span = "pipeline.run"

    def call(self, spark, settings):
        from etl_developstoday_test_spark.pipeline import run

        return run(spark, settings)

    def check(self, spark, stats: dict) -> str | None:
        problem = super().check(spark, stats)
        if problem:
            return problem
        n = spark.read.parquet(self.out).count()
        if n != stats["InsertedRows"]:
            return f"parquet rows {n} != InsertedRows {stats['InsertedRows']}"
        lines = []
        for part in sorted(os.listdir(self.dups)):
            if part.endswith(".csv"):
                with open(os.path.join(self.dups, part)) as f:
                    rows = f.read().splitlines()
                if not rows or not rows[0].startswith("LineNumber,"):
                    return f"duplicates file {part} lacks its header"
                lines += [int(r.split(",", 1)[0]) for r in rows[1:]]
        if lines != self.expected["duplicate_lines"]:
            return f"duplicates file lists {len(lines)} lines, planted {len(self.expected['duplicate_lines'])}"
        return None


class EtlStats(EtlWorkload):
    name = "etl_stats"
    pipeline_span = "pipeline.run_stats_only"

    def call(self, spark, settings):
        from etl_developstoday_test_spark.pipeline import run_stats_only

        return run_stats_only(spark, settings)


class QueryMix(Workload):
    name = "query_mix"

    def generate(self) -> None:
        import tables_gen

        self.mix = load_mix()
        self.tables = os.path.join(self.work, "tables")
        self.rows = sum(tables_gen.generate(self.tables, self.seed, TABLE_SCALE).values())
        self.bad: set[str] = set()

    def warm_up(self, spark) -> None:
        from etl_developstoday_test_spark.sources.tables import TABLE_NAMES, load_table
        from pyspark.sql import functions as F, types as T

        for t in TABLE_NAMES:  # parquet footers and schemas
            load_table(spark, self.tables, t).count()

        @F.pandas_udf(T.LongType())
        def _ident(s):
            return s

        # one Python worker per core: aggregate over the UDF so the
        # projection is not pruned away
        width = spark.sparkContext.defaultParallelism
        spark.range(width, numPartitions=width).select(_ident("id").alias("w")).agg(
            F.max("w")
        ).collect()

    def check_pass(self, spark) -> None:
        """Untimed: build each query, collect it and compare with its
        oracle twin. This runs the same plans the timed passes write
        through the noop sink, so it also warms code generation, the JIT
        and the Python workers for them."""
        import oracle
        from etl_developstoday_test_spark.plans.queries import ORACLE_SQL, QUERIES

        con = oracle.connect(self.tables)
        try:
            for i, name in enumerate(self.mix):
                if i % GC_EVERY == 0:
                    _full_gc(spark)
                try:
                    sdf = QUERIES[name](spark, self.tables)
                    rows = [tuple(r) for r in sdf.collect()]
                    problem = oracle.mismatch(con, ORACLE_SQL[name], rows, sdf.columns)
                except Exception as exc:
                    problem = f"raised {type(exc).__name__}: {exc}"[:300]
                if problem:
                    self.bad.add(name)
                    self.failures.append(f"{name}: {problem}")
        finally:
            con.close()

    def one_pass(self, spark, on_query, stop=lambda: False) -> None:
        for i, name in enumerate(self.mix):
            if stop():
                return
            if i % GC_EVERY == 0:
                _full_gc(spark)
            self.attempted += 1
            try:
                on_query(name)
            except Exception as exc:
                self.fail(f"{name} raised {type(exc).__name__}: {exc}"[:300])
                continue
            if name in self.bad:
                self.failed += 1

    def timed_loop(self, spark, seconds: float) -> None:
        from etl_developstoday_test_spark.plans.queries import QUERIES

        start = time.perf_counter()
        self.check_pass(spark)
        print(json.dumps({"check_pass_s": time.perf_counter() - start}), flush=True)
        self.samples: dict[str, list[float]] = {n: [] for n in self.mix}
        timed = [0.0]

        def run_query(name):
            start = time.perf_counter()
            try:
                _noop(QUERIES[name](spark, self.tables))
            finally:
                elapsed = time.perf_counter() - start
                self.samples[name].append(elapsed)
                timed[0] += elapsed

        # one full timed pass, then further passes until the deadline; the
        # first pass runs in one job group, so its Spark jobs can be
        # counted afterwards (the count depends on the seed's data)
        sc = spark.sparkContext
        sc.setJobGroup("perfbench-first-pass", "first timed pass")
        self.one_pass(spark, run_query)
        sc._jsc.sc().clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup("perfbench-first-pass"))
        print(json.dumps({"first_pass_jobs": jobs}), flush=True)
        while timed[0] < seconds:
            self.one_pass(spark, run_query, stop=lambda: timed[0] >= seconds)

    def metrics(self):
        per_query = [statistics.median(v) for v in self.samples.values() if v]
        return sum(per_query), per_query, self.rows

    def traced(self, spark, tracer) -> dict[str, float]:
        from etl_developstoday_test_spark.plans.queries import QUERIES

        self.check_pass(spark)
        families = _families(self.mix)
        start = time.perf_counter()
        self.one_pass(spark, lambda name: _noop(QUERIES[name](spark, self.tables)))
        untraced = time.perf_counter() - start

        layer = {k: _zero_span() for k in QUERY_SPANS}
        fam = {f: {"s": 0.0, "jobs": 0} for f in families}

        def run_query(name):
            with tracer.span(f"build:{name}", parent="plans.queries.build"):
                df = QUERIES[name](spark, self.tables)
            build = tracer.last()
            with tracer.span(f"exec:{name}", parent="plans.queries.exec"):
                _noop(df)
            execute = tracer.last()
            for key, span in zip(QUERY_SPANS, (build, execute)):
                for field in SPAN_FIELDS:
                    layer[key][field] += span[field]
                f = _family(name)
                if f in fam:
                    fam[f]["s"] += span["s"]
                    fam[f]["jobs"] += span["jobs"]

        start = time.perf_counter()
        self.one_pass(spark, run_query)
        traced_wall = time.perf_counter() - start

        out = {"trace.overhead_s": traced_wall - untraced}
        for key, span in layer.items():
            _put_span(out, key, span)
        total_s = sum(layer[k]["s"] for k in QUERY_SPANS)
        out["plans.queries.jobs_per_query"] = sum(layer[k]["jobs"] for k in QUERY_SPANS) / len(self.mix)
        out["plans.queries.busy_frac"] = (
            sum(layer[k]["executor_run_s"] for k in QUERY_SPANS) / (total_s * CORES)
        )
        for f, v in fam.items():
            out[f"family.{f}.s"] = v["s"]
            out[f"family.{f}.jobs"] = v["jobs"]
        return out


WORKLOADS = {w.name: w for w in (EtlImport, EtlStats, QueryMix)}


def _family(name: str) -> str:
    return name.split("_", 1)[0]


def _families(mix: list[str]) -> list[str]:
    """Name-prefix families with at least three queries in the mix."""
    counts: dict[str, int] = {}
    for n in mix:
        counts[_family(n)] = counts.get(_family(n), 0) + 1
    return sorted(f for f, c in counts.items() if c >= 3)


def _median_span(spans: list[dict]) -> dict[str, float]:
    return {k: statistics.median(s[k] for s in spans) for k in (*SPAN_FIELDS, "input_bytes")}


def _zero_span() -> dict[str, float]:
    return {k: 0.0 for k in SPAN_FIELDS}


def _put_span(out: dict, name: str, span: dict, minus: dict | None = None) -> None:
    for field in SPAN_FIELDS:
        value = span[field] - (minus[field] if minus else 0)
        out[f"{name}.{field}"] = value


def load_mix() -> list[str]:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_mix.json")
    with open(path) as f:
        return sorted(json.load(f)["queries"])


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, for every workload."""
    mix = load_mix()
    units = {}
    for span in ETL_SPANS + QUERY_SPANS:
        for field, unit in SPAN_FIELDS.items():
            units[f"{span}.{field}"] = unit
    units.update(PER_LAYER_EXTRA_UNITS)
    for fam in _families(mix):
        units[f"family.{fam}.s"] = "s"
        units[f"family.{fam}.jobs"] = "count"
    return units


# ---------------------------------------------------------------------------
# entry point


def setup(workload: Workload) -> tuple[object, list[float]]:
    """Start a session and warm it, ``SETUP_REPS`` times; keep the last.

    The first start also launches the JVM; later ones start a fresh
    Spark context in it."""
    times = []
    spark = None
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            start = time.perf_counter()
            spark = env.start_spark()
            workload.warm_up(spark)
            times.append(time.perf_counter() - start)
    except BaseException:
        if spark is not None:
            env.stop_spark(spark)
        raise
    return spark, times


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    began = time.perf_counter()
    if not os.path.isdir(os.path.join(env.ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {env.ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(env.WORK, ignore_errors=True)
    env.prepare()
    __import__(f"{PACKAGE}.pipeline")
    __import__(f"{PACKAGE}.plans.queries")

    run_dir = os.path.join(env.WORK, "run")
    os.makedirs(run_dir)
    workload = WORKLOADS[args.workload](args.seed, run_dir)
    phases = {"import": time.perf_counter() - began}
    workload.generate()
    phases["generate"] = time.perf_counter() - began - sum(phases.values())

    spark, setup_times = setup(workload)
    phases["setup"] = sum(setup_times)
    try:
        context = _context(spark)
        print(json.dumps({"context": context}), flush=True)
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            units = per_layer_units()
            # layers the workload does not reach stay at zero
            values = {k: 0.0 for k in units}
            values.update(workload.traced(spark, tracer))
            metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
            with open(os.path.join(env.WORK, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"context": context, "spans": tracer.spans}, f, indent=1)
        else:
            with RssSampler() as rss:
                workload.timed_loop(spark, args.seconds)
            wall, latencies, rows = workload.metrics()
            print(json.dumps({"latencies_s": workload.samples}), flush=True)
            values = {
                "setup_s": statistics.median(setup_times),
                "wall_s": wall,
                "latency_p50_s": statistics.median(latencies),
                "latency_p90_s": _p90(latencies),
                "rows_per_s": rows / wall,
                "peak_rss_mb": rss.peak_kb / 1024,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        phases["work"] = time.perf_counter() - began - sum(phases.values())
    finally:
        env.stop_spark(spark)
        shutil.rmtree(os.path.join(env.WORK, "run"), ignore_errors=True)
    phases["stop"] = time.perf_counter() - began - sum(phases.values())
    print(json.dumps({"phases_s": phases}), flush=True)

    for problem in workload.failures:
        print(f"FAILED {problem}", file=sys.stderr)
    result = {
        "correct": workload.failed == 0 and not workload.failures,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
