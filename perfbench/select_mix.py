"""Re-derive the ``query_mix`` membership (writes ``query_mix.json``).

Runs every registered query once on tables generated with the selection
seed and counts its Spark jobs through the noop sink. A query is a
candidate when it matches its DuckDB oracle twin on the tables of the
selection seed and of every seed in ``CHECK_SEEDS``. The mix keeps:

- the queries in ``REQUIRED``;
- the ``TOP_BY_JOBS`` candidates with the most jobs;
- one seeded pick from each name-prefix family with at least
  ``FAMILY_MIN`` candidates that has no member yet;
- seeded picks from the rest, up to ``MIX_SIZE`` queries in all.

Usage: ``python3 perfbench/select_mix.py`` measures every query (several
minutes), saves the per-query facts under ``.perfbench_select/`` and
chooses; ``--choose-only`` chooses again from the saved facts.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402
import oracle  # noqa: E402
import tables_gen  # noqa: E402
from spans import Tracer  # noqa: E402

SELECTION_SEED = 20261016
TABLE_SCALE = 0.01
TOP_BY_JOBS = 5
FAMILY_MIN = 10
MIX_SIZE = 20
# longest single query (build + exec) kept in the mix, in seconds
MAX_QUERY_S = 2.5
# further table seeds every candidate must pass its oracle check on
CHECK_SEEDS = (1, 2, 3, 4, 5)
# always in the mix, with the reason
REQUIRED = {
    "mm_media_features": "runs a pandas UDF: Python workers must import the package",
}
# queries that read a file outside the generated tables: both read the
# reference sample CSV, which is absent, and would time an empty frame
EXCLUDED = {
    "etl_golden_pipeline_stats": "reads the absent reference sample CSV and times an empty frame",
    "scan_python_datasource_chunks": "reads the absent reference sample CSV and times an empty frame",
}


def family(name: str) -> str:
    return name.split("_", 1)[0]


def measure() -> dict[str, dict]:
    """Jobs, first-run seconds and oracle verdicts of every query."""
    env.prepare()
    from etl_developstoday_test_spark.plans.queries import ORACLE_SQL, QUERIES

    tables = os.path.join(env.WORK, "select_tables")
    shutil.rmtree(tables, ignore_errors=True)
    tables_gen.generate(tables, SELECTION_SEED, TABLE_SCALE)
    con = oracle.connect(tables)
    spark = env.start_spark()
    tracer = Tracer(spark)
    facts: dict[str, dict] = {}
    try:
        for name in sorted(QUERIES):
            if name in EXCLUDED:
                continue
            fact: dict = {"family": family(name)}
            try:
                with tracer.span(name):
                    QUERIES[name](spark, tables).write.mode("overwrite").format("noop").save()
                fact["jobs"] = tracer.last()["jobs"]
                fact["s"] = round(tracer.last()["s"], 3)
                sdf = QUERIES[name](spark, tables)
                rows = [tuple(r) for r in sdf.collect()]
                fact["oracle"] = oracle.mismatch(con, ORACLE_SQL[name], rows, sdf.columns)
            except Exception as exc:  # a failing query is left out of the mix
                fact["error"] = f"{type(exc).__name__}: {exc}"[:300]
            facts[name] = fact
            print(name, fact, flush=True)
        for seed in CHECK_SEEDS:
            seed_tables = os.path.join(env.WORK, f"select_tables_{seed}")
            tables_gen.generate(seed_tables, seed, TABLE_SCALE)
            seed_con = oracle.connect(seed_tables)
            for name, fact in facts.items():
                if "error" in fact or fact["oracle"] is not None:
                    continue
                try:
                    sdf = QUERIES[name](spark, seed_tables)
                    rows = [tuple(r) for r in sdf.collect()]
                    bad = oracle.mismatch(seed_con, ORACLE_SQL[name], rows, sdf.columns)
                except Exception as exc:
                    bad = f"{type(exc).__name__}: {exc}"[:300]
                if bad is not None:
                    fact["oracle"] = f"seed {seed}: {bad}"
                    print(name, fact, flush=True)
            seed_con.close()
            shutil.rmtree(seed_tables, ignore_errors=True)
    finally:
        env.stop_spark(spark)
        con.close()
    return facts


def choose(facts: dict[str, dict]) -> dict:
    green = sorted(
        n for n, f in facts.items()
        if "error" not in f and f.get("oracle") is None and f["s"] <= MAX_QUERY_S
    )
    by_jobs = sorted(green, key=lambda n: (-facts[n]["jobs"], n))
    mix = [n for n in REQUIRED if n in green]
    mix += [n for n in by_jobs if n not in mix][:TOP_BY_JOBS]
    rng = random.Random(SELECTION_SEED)
    rest = [n for n in green if n not in mix]
    rng.shuffle(rest)
    for fam in sorted({family(n) for n in green}):
        members = [n for n in green if family(n) == fam]
        if len(members) >= FAMILY_MIN and not any(family(n) == fam for n in mix):
            mix.append(next(n for n in rest if family(n) == fam))
    for n in rest:
        if len(mix) >= MIX_SIZE:
            break
        if n not in mix:
            mix.append(n)

    out = {
        "selection_seed": SELECTION_SEED,
        "table_scale": TABLE_SCALE,
        "check_seeds": list(CHECK_SEEDS),
        "rule": (
            "the required queries, then the "
            f"top {TOP_BY_JOBS} oracle-green queries by Spark jobs, then one seeded "
            f"pick per name-prefix family with at least {FAMILY_MIN} candidates, then "
            f"seeded picks to {MIX_SIZE} in all; queries slower than {MAX_QUERY_S} s "
            "on first run are left out"
        ),
        "excluded": EXCLUDED,
        "required": REQUIRED,
        "left_out": {
            n: f.get("error") or f.get("oracle") or f"{f['s']} s"
            for n, f in sorted(facts.items()) if n not in green
        },
        "queries": {n: {"jobs": facts[n]["jobs"], "s": facts[n]["s"]} for n in sorted(mix)},
    }
    return out


def main() -> None:
    # a work directory of its own: benchmark runs clear theirs on start
    env.WORK = os.path.join(env.ROOT, ".perfbench_select")
    facts_path = os.path.join(env.WORK, "facts.json")
    if "--choose-only" in sys.argv[1:]:
        with open(facts_path) as f:
            facts = json.load(f)
    else:
        facts = measure()
        with open(facts_path, "w") as f:
            json.dump(facts, f, indent=1, sort_keys=True)
    out = choose(facts)
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_mix.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out['queries'])} queries written to {path} at {time.strftime('%H:%M:%S')}")


if __name__ == "__main__":
    main()
