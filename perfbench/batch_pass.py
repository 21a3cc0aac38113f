"""The batch layers, measured inside stream_paced's traced run.

No gated workload runs the batch operators: a batch workload of its own
does not fit the benchmark's run budget beside the two stream workloads
(NOTES.md, "Run budget"). So the traced run of stream_paced, once its
stream has stopped and its outputs are checked, runs ``QUERIES`` four
times on the same session over ten tables generated from the seed
(``datagen``):

1. a cold pass with ``collect()``: it warms the JVM, the Python workers
   and codegen, and its results are checked against each query's DuckDB
   oracle over the same files;
2. an untraced, a traced and an untraced pass into the noop sink; the
   traced one gives, per query, the wall of the registered function
   call (driver-side DAG construction), of planning and of execution,
   and its job group's job, stage and task counts. The untraced passes
   on either side of it are the base of the overhead ratio, so the
   noop path's own warm-up falls on both sides.

``clearCache`` runs between queries. The data follow the seed, so the
oracle hashes are computed per run rather than stored.
"""

from __future__ import annotations

import os
import time

from harness import group_counts, value_hash

# the registry's kinds: relational, temporal, text, stream-shaped batch,
# and two LLM queries, one of them dedup_clusters, the floor-bound chain
# of ~23 jobs. ~5 s a warm pass on a 4-core host, ~17 s cold.
QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "top_customers_per_segment",
    "asof_click_view",
    "funnel_view_click_purchase",
    "dedup_clusters",
    "knn_brute_cosine",
    "text_quality",
    "windowed_wordcount",
)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF = 0.01
N_DOCS = 500
GROUP = "perfbench-batch"


def oracle_hashes(data_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """Each oracle's result hash, computed by DuckDB over the same files."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            out[name] = value_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def measure(ctx, spark) -> dict:
    """Per-layer batch metrics, the pass count as ``attempted`` queries,
    and the errors of the oracle check."""
    import datagen
    from solace_apache_beam_spark import registry

    tracer = ctx.tracer
    data = os.path.join(ctx.work, "data")
    datagen.generate(data, ctx.seed, sf=SF, n_docs=N_DOCS)
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    missing = [q for q in QUERIES if q not in queries or q not in oracles]
    if missing:
        raise RuntimeError(f"queries or oracles not registered: {missing}")

    errors: list[str] = []
    got: dict[str, str] = {}
    for name in QUERIES:
        try:
            df = queries[name](spark, data)
            got[name] = value_hash(df.columns, df.collect())
        except Exception as e:  # noqa: BLE001 - counted as a failed query
            errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        spark.catalog.clearCache()

    sc = spark.sparkContext
    pass_s: dict[bool, list[float]] = {False: [], True: []}
    recs: list[dict] = []
    for traced in (False, True, False):
        tracer.enabled = traced
        t_pass = time.perf_counter()
        for name in QUERIES:
            group = f"{GROUP}-{name}"
            if traced:
                sc.setJobGroup(group, name, False)
            try:
                with tracer.span("batch.query", query=name):
                    t0 = time.perf_counter()
                    with tracer.span("batch.build"):
                        df = queries[name](spark, data)
                    t1 = time.perf_counter()
                    if traced:
                        with tracer.span("batch.plan"):
                            df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tracer.span("batch.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                spark.catalog.clearCache()
            except Exception as e:  # noqa: BLE001 - counted as a failed query
                errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            if traced:
                recs.append(
                    {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
                     **group_counts(spark, group)}
                )
        pass_s[traced].append(time.perf_counter() - t_pass)
        if traced:
            # later jobs must not count in the last query's group
            sc.setJobGroup("perfbench-after", "after", False)
    tracer.enabled = ctx.trace

    # correctness, outside the timed passes
    want = oracle_hashes(data, {n: oracles[n] for n in QUERIES})
    for name in QUERIES:
        if name in got and got[name] != want[name]:
            errors.append(f"{name}: result {got[name]} != oracle {want[name]}")

    # means over the queries of the traced pass
    layers = {
        f"batch.{key}": sum(r[key] for r in recs) / max(1, len(recs))
        for key in ("build_s", "plan_s", "exec_s", "jobs", "stages", "tasks")
    }
    untraced = sum(pass_s[False]) / len(pass_s[False])
    layers["trace.overhead_ratio"] = pass_s[True][0] / untraced
    return {
        "layers": layers,
        "attempted": 4 * len(QUERIES),
        "errors": errors,
        "summary": {
            "batch_pass_s": ([round(t, 3) for t in pass_s[False]], "s"),
            "batch_traced_pass_s": (round(pass_s[True][0], 3), "s"),
        },
        "units": len(recs),
    }
