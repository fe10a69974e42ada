"""registry_mix — closed loop over registry query functions.

One pass runs each query of ``MIX`` once, in a seed-chosen order, over a
staged copy of the tables whose row order the seed also sets. Each
query is built by its registry function after ``clear_gate_memos()``,
forced with the noop writer (timed), then collected and compared with
its DuckDB oracle (untimed).
"""

from __future__ import annotations

import os
import random
import statistics
import time

import checks
import datagen
from harness import SPARK_CORES, SparkProbe, build_session, op_metrics, peak_heap_mb, stop_session, tree_cpu_s

# layers this workload exercises (metric-name prefixes); the rest read 0
LAYERS = ("op.", "spark.", "plans.", "trace.")
MIX = (
    "topic_routing",
    "file_assignment",
    "wire_frame_split",
    "dedup_minhash_lsh",
    "similarity_ivf_multiprobe",
    "streaming_ivf_index_maintenance",
)


def _oracles(sf_dir: str, names) -> dict:
    import duckdb

    from kafka_sink_azure_kusto_spark.plans import registry

    sql = registry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in datagen.REGISTRY_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
        return {n: con.execute(sql[n]).fetchdf() for n in names}
    finally:
        con.close()


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange" in line and "ReusedExchange" not in line)


def _catalyst_ms(df) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0.0
    while it.hasNext():
        p = it.next()
        total += p.endTimeMs() - p.startTimeMs()
    return total


class Runner:
    def __init__(self, spark, sf_dir: str, oracles: dict):
        from kafka_sink_azure_kusto_spark.plans import registry

        self.registry = registry
        self.fns = registry.queries()
        self.spark = spark
        self.sf_dir = sf_dir
        self.oracles = oracles
        self.probe = None  # a SparkProbe while a pass is traced

    def warm_up(self, name: str) -> list[str]:
        self.registry.clear_gate_memos()
        pdf = self.fns[name](self.spark, self.sf_dir).toPandas()
        return checks.check_query(name, pdf, self.oracles[name])

    def query(self, name: str, tag: str) -> dict:
        """Build, force (timed) and check one query. Returns its record;
        ``problems`` is non-empty if it raised or differs from the oracle."""
        self.registry.clear_gate_memos()
        group = f"{tag}:{name}"
        if self.probe:
            self.probe.set_group(group)
        rec = {"name": name, "problems": []}
        cpu = tree_cpu_s()
        start = time.time()
        try:
            df = self.fns[name](self.spark, self.sf_dir)
            built = time.time()
            df.write.format("noop").mode("overwrite").save()
            end = time.time()
            cpu = tree_cpu_s() - cpu
        except Exception as e:  # noqa: BLE001 — a raising query is a failed operation
            rec["problems"].append(f"raised {e!r}")
            return rec
        finally:
            if self.probe:
                self.probe.clear_group()
        rec.update(start=start, built=built, end=end, wall=end - start, build=built - start, cpu=cpu)
        if self.probe:
            rec["stats"] = self.probe.stats(group, since=start)
            rec["exchanges"] = _exchanges(df)
            rec["catalyst_ms"] = _catalyst_ms(df)
        rec["problems"] = checks.check_query(name, df.toPandas(), self.oracles[name])
        return rec


def run(ctx) -> dict:
    rng = random.Random(ctx.seed)
    order = list(MIX)
    rng.shuffle(order)
    spark = build_session(SPARK_CORES, "perfbench-registry_mix", ctx.spark_dir)
    sf_dir = datagen.stage_registry_tables(os.path.join(ctx.workdir, "tables"), ctx.seed)
    t_oracle, cpu_oracle = time.time(), tree_cpu_s()
    oracles = _oracles(sf_dir, order)
    t_oracle, cpu_oracle = time.time() - t_oracle, tree_cpu_s() - cpu_oracle
    runner = Runner(spark, sf_dir, oracles)
    for name in order:  # the cold warm-up pass, forced by collecting each checked result
        problems = runner.warm_up(name)
        if problems:
            raise RuntimeError(f"warm-up {name} failed: {problems[:2]}")
    setup_wall_s, setup_cpu_s = time.time() - ctx.process_start - t_oracle, tree_cpu_s() - cpu_oracle

    probe = SparkProbe(spark) if ctx.trace else None
    passes, attempted, failed = [], 0, 0
    t_start = time.time()
    # a traced run traces every other pass, starting with the second: plain, traced
    min_passes = 2 if ctx.trace else 1
    while len(passes) < min_passes or time.time() - t_start < ctx.seconds:
        t_pass = time.time()
        recs = []
        traced = ctx.trace and len(passes) % 2 == 1
        runner.probe = probe if traced else None
        for name in order:
            rec = runner.query(name, f"pass{len(passes)}")
            attempted += 1
            if rec["problems"]:
                failed += 1
                ctx.log(f"{name} failed: {rec['problems'][:2]}")
            recs.append(rec)
        ok = [r for r in recs if "wall" in r]
        passes.append({"recs": recs, "wall": sum(r["wall"] for r in ok), "traced": traced,
                       "with_checks_s": time.time() - t_pass})

    window = (t_start, time.time())
    ok = [r for p in passes for r in p["recs"] if "wall" in r]
    per_query = {n: statistics.median([r["wall"] for r in ok if r["name"] == n]) for n in order if any(r["name"] == n for r in ok)}
    rows = _input_rows(sf_dir)
    e2e = {
        "setup_s": setup_cpu_s,
        "cpu_us_per_record": sum(r["cpu"] for r in ok) / sum(rows[r["name"]] for r in ok) * 1e6,
    }
    wall = {
        "latency_p50_ms": statistics.median(per_query.values()) * 1000,
        "latency_p99_ms": max(per_query.values()) * 1000,
        "records_per_s": sum(rows[n] for n in per_query) / sum(per_query.values()),
    }
    out = {"attempted": attempted, "failed": failed, "e2e": e2e, "wall": wall, "layers": {}, "window": window,
           "context": {"setup_wall_s": setup_wall_s, "oracle_wall_s": t_oracle, "passes": len(passes),
                       "pass_wall_with_checks_s": [p["with_checks_s"] for p in passes], "order": order,
                       "query_wall_s": per_query,
                       "query_cpu_s": {n: statistics.median([r["cpu"] for r in ok if r["name"] == n]) for n in per_query}}}
    if ctx.trace:
        out["layers"] = _traced_layers(ctx, passes, rows)
        out["layers"]["spark.driver_peak_heap_mb"] = peak_heap_mb(spark)
    stop_session(spark)
    return out


# rows of the input tables each query reads
_QUERY_TABLES = {
    "topic_routing": ("events",),
    "file_assignment": ("events",),
    "wire_frame_split": ("events",),
    "dedup_minhash_lsh": ("documents",),
    "similarity_ivf_multiprobe": ("embeddings",),
    "streaming_ivf_index_maintenance": ("embeddings",),
}


def _input_rows(sf_dir: str) -> dict:
    import pyarrow.parquet as pq

    n = {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows for t in datagen.REGISTRY_TABLES}
    return {q: sum(n[t] for t in ts) for q, ts in _QUERY_TABLES.items()}


def _traced_layers(ctx, passes, rows) -> dict:
    traced = [p for p in passes if p["traced"]]
    plain = [p["wall"] for p in passes if not p["traced"]]
    recs = [r for p in traced for r in p["recs"] if "stats" in r]
    pass_wall = statistics.median([p["wall"] for p in traced])
    layers = {
        **op_metrics([(r["stats"], r["start"], r["end"], rows[r["name"]]) for r in recs]),
        "plans.registry.catalyst_pct": 100 * sum(r["catalyst_ms"] for r in recs) / 1000 / sum(r["wall"] for r in recs),
        "plans.registry.exchanges": sum(r["exchanges"] for r in recs) / len(traced),
        "plans.registry.build_pct": 100 * sum(r["build"] for r in recs) / sum(r["wall"] for r in recs),
        "trace.overhead_pct": (pass_wall / statistics.median(plain) - 1) * 100 if plain else 0.0,
    }
    for name in MIX:
        mine = [r for r in recs if r["name"] == name]
        layers[f"plans.registry.{name}.wall_pct"] = 100 * statistics.median([r["wall"] for r in mine]) / pass_wall
        layers[f"plans.registry.{name}.jobs"] = statistics.median([r["stats"].jobs for r in mine])
    for p_i, p in enumerate(traced):
        for r in p["recs"]:
            if "stats" not in r:
                continue
            trace = f"pass{p_i}:{r['name']}"
            ctx.tracer.add("query", r["start"], r["end"], trace, None)
            ctx.tracer.add("build", r["start"], r["built"], trace, "query")
            for s, e in r["stats"].intervals:
                ctx.tracer.add("spark_job", s, e, trace, "query")
    return layers
