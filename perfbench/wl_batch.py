"""``batch``: the corpus-wide jobs, each materialized to a noop sink.

The jobs are the engine's catalog queries

- ``text_dedup_keep_canonical`` (3-gram Jaccard edges → connected
  components → keep canonicals; the dedup layer),
- ``semantic_dedup_canonical`` (cosine threshold join → components;
  the similarity layer),
- ``reference_curated_flow`` (raw → cleansed → curated; the cleanse
  operators and the curated pipeline),

plus ``backfill`` (``cleanse_eu`` + ``batch_upsert_commit`` of the whole
cleansed metadata), run in a seeded order per round. Set-up (the
engine's splittable scan layout of each input and the cleansed table's
first commit) is repeated ``SETUP_REPEATS`` times into fresh roots. The
first round is the untimed warm-up. After the timed rounds every job
runs once more on a small input set generated from the same seed, and
its collected result is compared with the catalog's DuckDB oracle
(``catalog_oracles()``).
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

import harness
from harness import median

TABLES = ("documents", "embeddings", "orders", "events")
JOBS = {
    "text_dedup": "text_dedup_keep_canonical",
    "semantic_dedup": "semantic_dedup_canonical",
    "curated_flow": "reference_curated_flow",
    "backfill": None,
}
LAYERS = {"text_dedup": "dedup", "semantic_dedup": "similarity", "curated_flow": "curated"}
COMPACT_EVERY = 2
ROUND_SECONDS = 10.0
WARMUP_ROUNDS = 1
SETUP_REPEATS = 2


def round_count(seconds: int) -> int:
    return max(2, int(round(seconds / ROUND_SECONDS)))


def schedule(seed: int, rounds: int) -> list[str]:
    rng = np.random.default_rng([seed, 300])
    names = list(JOBS)
    return [names[i] for _ in range(rounds) for i in rng.permutation(len(names))]


def _canon(pdf):
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False):
        out.append(
            tuple(
                None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else round(float(v), 6)
                if isinstance(v, float)
                else str(v)
                for v in row
            )
        )
    return cols, sorted(out, key=repr)


def oracle_check(con, sql: str, got_pdf) -> str | None:
    want = con.execute(sql).df()
    wc, wr = _canon(want)
    gc, gr = _canon(got_pdf)
    if wc != gc:
        return f"columns {gc} != oracle {wc}"
    if len(wr) != len(gr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    if wr != gr:
        bad = next(i for i, (a, b) in enumerate(zip(gr, wr)) if a != b)
        return f"row {bad}: {gr[bad]} != oracle {wr[bad]}"
    return None


def check_pass(ctx, queries, check_dir: str) -> None:
    """Run each job on the small check inputs (same seed), collect the
    result and compare it with the job's DuckDB oracle."""
    import duckdb

    from cultural_heritage_bigdata_project_spark.plans.catalog import catalog_oracles

    oracles = catalog_oracles()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(check_dir, t)}.parquet')"
            )
        for job, name in JOBS.items():
            if name is None:
                continue
            ctx.attempted += 1
            try:
                pdf = queries[name](ctx.spark, check_dir).toPandas()
                err = oracle_check(con, oracles[name], pdf)
            except Exception as e:  # noqa: BLE001 - a failed job is a failed op
                err = f"{type(e).__name__}: {e}"
            if err:
                ctx.fail(f"{job} oracle check: {err}")
    finally:
        con.close()


def backfill(ctx, data_dir: str, root: str, seq: int) -> dict:
    """The cleansed-metadata backfill: cleanse the raw metadata the
    curated pipeline derives and MERGE it into a cleansed table with
    ``batch_upsert_commit``. Returns `harness.timed_commit`'s record."""
    from pyspark.sql import functions as F

    from cultural_heritage_bigdata_project_spark.pipelines import curated
    from cultural_heritage_bigdata_project_spark.streaming import pipelines

    def commit():
        with ctx.tracer.span("cleanse.eu"):
            eu = curated.cleanse_eu(curated.derive_eu_raw(ctx.spark, data_dir))
        with ctx.tracer.span("txn.backfill.commit"):
            pipelines.batch_upsert_commit(
                ctx.spark, eu.withColumn("batch_seq", F.lit(seq)), ["guid"], ["batch_seq"],
                root, compact_every=COMPACT_EVERY,
            )

    return harness.timed_commit(root, commit)


def expected_cleansed_guids(data_dir: str) -> int:
    """Distinct guids ``cleanse_eu`` keeps: the orders whose derived
    guid and image URL are both present (okey % 97, okey % 89)."""
    import pyarrow.parquet as pq

    keys = np.asarray(pq.read_table(os.path.join(data_dir, "orders.parquet"), columns=["o_orderkey"])[0])
    return int(np.count_nonzero((keys % 97 != 0) & (keys % 89 != 0)))


def run(ctx) -> None:
    import datagen
    from cultural_heritage_bigdata_project_spark.operators import txn
    from cultural_heritage_bigdata_project_spark.plans.catalog import catalog_queries
    from cultural_heritage_bigdata_project_spark.sources.tables import load_table

    spark = ctx.spark
    for i in range(SETUP_REPEATS):
        root = ctx.path(f"cleansed_eu{i}")
        t0 = time.perf_counter()
        for t in TABLES:
            load_table(spark, ctx.data_dir, t)
        backfill(ctx, ctx.data_dir, root, 0)
        ctx.setup_parts_s.append(time.perf_counter() - t0)

    queries = catalog_queries()
    warmup = WARMUP_ROUNDS * len(JOBS)
    ops = [(j, None) for j in schedule(ctx.seed, WARMUP_ROUNDS + round_count(ctx.seconds))]
    commits: list[dict] = []

    def do_op(n, job, _):
        if job == "backfill":
            rec = backfill(ctx, ctx.data_dir, root, n)
            if n >= warmup:
                commits.append(rec)
            return rec["s"], None, {}
        layer = LAYERS[job]
        t0 = time.perf_counter()
        with ctx.tracer.span(f"{layer}.{job}.construct"):
            df = queries[JOBS[job]](spark, ctx.data_dir)
        with ctx.tracer.span(f"{layer}.{job}.execute"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, None, {}

    ctx.results = harness.run_ops(ctx, ops, do_op, len(JOBS), warmup)
    ctx.commits = commits
    ctx.persistent_rdds = len(spark.sparkContext._jsc.getPersistentRDDs())
    final = txn.read_version(spark, root).count()
    ctx.attempted += 1
    if final != expected_cleansed_guids(ctx.data_dir):
        ctx.fail(f"backfill: {final} cleansed rows != {expected_cleansed_guids(ctx.data_dir)} distinct guids")

    t_check = time.perf_counter()
    check_dir = datagen.write_tables(ctx.seed, ctx.path("check"), datagen.SCALES["check"], TABLES)
    check_pass(ctx, queries, check_dir)
    ctx.attempted += 1
    backfill(ctx, check_dir, ctx.path("check_cleansed"), 0)
    got = txn.read_version(spark, ctx.path("check_cleansed")).count()
    if got != expected_cleansed_guids(check_dir):
        ctx.fail(f"backfill: {got} cleansed rows != {expected_cleansed_guids(check_dir)} distinct guids")
    check_s = time.perf_counter() - t_check

    # every run issues the same backfills, so the same ones roll
    # segments: the backfill median always covers the same kinds
    harness.loop_metrics(ctx, ctx.results, JOBS)
    if ctx.trace:
        ctx.text_dedup_edges = text_dedup_edges(spark, ctx.data_dir)
    ctx.summary = {f"{g}_s": v / 1000.0 for g, v in harness.class_medians_ms(ctx.results, JOBS).items()}
    for kind, roll in (("commit", False), ("roll", True)):
        ctx.summary[f"backfill.{kind}_s"] = median(c["s"] for c in commits if c["roll"] == roll)
    ctx.summary["samples"] = len(ctx.results)
    ctx.summary["check_s"] = check_s


def layer_metrics(ctx, groups) -> None:
    tr, L = ctx.tracer, ctx.layer
    cores = harness.host_cpus()
    harness.session_metrics(ctx, groups, cores)
    for job, layer in LAYERS.items():
        harness.job_layer_metrics(ctx, groups, layer, f"op.{job}", cores)
    n = len([r for r in ctx.results if r.traced])
    for layer in ("dedup", "similarity", "curated", "txn", "cleanse"):
        L[f"{layer}.self_ms"] = (harness.layer_self_ms(tr, layer, n), "ms")
    rows = expected_cleansed_guids(ctx.data_dir)
    harness.commit_metrics(ctx, ctx.commits, lambda c: rows)
    # not over backfill: its rolls fall on every other round, exactly as
    # tracing does, so traced and untraced backfills are different kinds
    L["tracing.overhead_pct"] = (harness.tracing_overhead_pct(ctx.results, LAYERS), "%")
    L["dedup.edges"] = (ctx.text_dedup_edges, "count")


def text_dedup_edges(spark, data_dir: str) -> int:
    """Edge count of the text-dedup graph: the 3-gram Jaccard >= 0.8
    pairs ``text_dedup_keep_canonical`` feeds its component search."""
    from pyspark.sql import functions as F

    from cultural_heritage_bigdata_project_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
    toks = docs.select("doc_id", F.split(F.trim(F.lower("text")), " +").alias("t"))
    shingled = toks.filter(F.size("t") >= 3).select("doc_id", dedup.shingles_expr("t", 3).alias("sh"))
    return dedup.jaccard_pairs(shingled, "doc_id", "sh", threshold=0.8).count()
