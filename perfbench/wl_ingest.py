"""``ingest``: the medallion write path beside reads, one seeded raw
batch per cycle.

Set-up commits a base batch into the two cleansed tables and builds the
serving indexes over the base corpus (a two-space collection over
``embeddings``, a text index over ``documents``); it is repeated
``SETUP_REPEATS`` times into fresh roots. Each timed cycle then hands
over one raw batch and, in order:

1. ``cleanse_eu`` / ``cleanse_ugc`` plus ``batch_upsert_commit`` into the
   cleansed metadata and annotation tables (``compact_every`` is set so
   every run rolls segments the same number of times);
2. ``collection_upsert`` and ``text_index_upsert`` of the batch's new
   items;
3. one fresh ``collection_search`` and one fresh ``text_index_search``,
   which must return the new items.

Every step is one op. Freshness is the time from handover until both
fresh reads have returned. Each cycle publishes new versions, so the
reads always miss the engine's plan memo.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import datagen
import harness
import wl_dashboard
from harness import median

TABLES = ("documents", "embeddings")
STEPS = ("commit_eu", "commit_ugc", "collection_upsert", "text_upsert", "fresh_knn", "fresh_text")
NEW_ITEMS = 400
UPDATED_ITEMS = 100
ANNOTATIONS = 1500
REPLAY_SHARE = 0.1
COMPACT_EVERY = 3
CYCLE_SECONDS = 3.5
WARMUP_CYCLES = 1
SETUP_REPEATS = 3
ID_BASE = 1_000_000


def cycle_count(seconds: int) -> int:
    return max(2, int(round(seconds / CYCLE_SECONDS)))


class Generator:
    """Seeded raw batches plus the generator-side truth the checks
    need: the distinct cleansed keys of both tables and each new item's
    vector and unique text token."""

    def __init__(self, seed: int):
        self.seed = seed
        self.next_item = 0
        self.eu_keys: set[str] = set()
        self.ugc_keys: set[tuple] = set()
        self.items: list[int] = []
        self.sent_ugc: list[tuple] = []
        self.raw_rows: dict[int, int] = {}

    def batch(self, cycle: int):
        rng = np.random.default_rng([self.seed, 200, cycle])
        new = list(range(self.next_item, self.next_item + NEW_ITEMS))
        self.next_item += NEW_ITEMS
        old = self.items
        updated = [int(x) for x in rng.choice(old, min(UPDATED_ITEMS, len(old)), replace=False)] if old else []
        eu = []
        for i in new + updated:
            guid = f"item/{i}"
            # dirt, as the reference's raw lake: missing image URLs,
            # empty strings, duplicate deliveries, rows without a key
            no_img = rng.random() < 0.03
            row = (
                guid,
                f"Object {i} v{cycle}",
                None if no_img else f"http://img/{i}",
                "" if rng.random() < 0.07 else f"desc {cycle}",
                "" if rng.random() < 0.1 else "F",
                i,
                1,
            )
            eu.append(row)
            if rng.random() < 0.08:
                eu.append(row[:6] + (2,))
            if not no_img:
                self.eu_keys.add(guid)
        for j in range(int(0.02 * len(eu))):
            eu.append((None, "orphan", f"http://img/x{j}", "", "", -1, 1))
        self.items.extend(new)

        ugc = []
        pool = self.items
        for _ in range(ANNOTATIONS):
            if self.sent_ugc and rng.random() < REPLAY_SHARE:
                msg = self.sent_ugc[int(rng.integers(0, len(self.sent_ugc)))]
            else:
                item = int(pool[int(rng.integers(0, len(pool)))])
                ts = int(rng.integers(1_700_000_000_000_000, 1_800_000_000_000_000))
                msg = (f"item/{item}", f"u{int(rng.integers(0, 500))}", f"c{ts % 97}", f'["t{ts % 3}"]', ts)
                self.sent_ugc.append(msg)
            self.ugc_keys.add((msg[0], msg[1], msg[4]))
            ugc.append(
                (json.dumps(dict(zip(("guid", "user_id", "comment", "tags_json", "ts_us"), msg))),)
            )
        self.raw_rows[cycle] = len(eu) + len(ugc)
        vecs = datagen.unit_vectors(rng, len(new))
        texts = [f"{datagen.random_text(rng, int(rng.integers(10, 60)))} tok{i}" for i in new]
        return eu, ugc, new, vecs, texts


EU_SCHEMA = "guid string, title string, image_url string, description string, creator string, okey long, copy int"


class Ingest:
    """The cleansed tables and serving indexes under one root, fed one
    cycle at a time. Each ``step_*`` method is one timed op."""

    def __init__(self, ctx, root: str):
        self.ctx = ctx
        self.eu = os.path.join(root, "cleansed_eu")
        self.ugc = os.path.join(root, "cleansed_ugc")
        self.coll = os.path.join(root, "coll")
        self.text = os.path.join(root, "text")
        self.gen = Generator(ctx.seed)
        self.commits: list[dict] = []
        self.batch = None

    def setup(self) -> float:
        from cultural_heritage_bigdata_project_spark.operators import text_index

        ctx, spark = self.ctx, self.ctx.spark
        t0 = time.perf_counter()
        wl_dashboard.create_collection(spark, ctx.data_dir, self.coll)
        docs = spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet")).select("doc_id", "text")
        text_index.build_text_index(spark, docs, self.text)
        for step in STEPS:  # the base batch
            _, err = self.step(0, step)
            if err:
                ctx.fail(f"set-up {step}: {err}")
        return time.perf_counter() - t0

    def step(self, cycle: int, step: str) -> tuple[float, str | None]:
        """Run one step of ``cycle``; returns (seconds, error)."""
        spark = self.ctx.spark
        if step == "commit_eu":  # handover: the raw batch arrives
            eu_rows, ugc_rows, new, vecs, texts = self.gen.batch(cycle)
            self.batch = {
                "eu": spark.createDataFrame(eu_rows, EU_SCHEMA),
                "ugc": spark.createDataFrame(ugc_rows, "value string"),
                "points": spark.createDataFrame(
                    [
                        (ID_BASE + i, [float(x) for x in v[:datagen.IMAGE_DIM]], [float(x) for x in v], 0, "pending")
                        for i, v in zip(new, vecs)
                    ],
                    "vec_id long, image_emb array<float>, combined_emb array<float>, label int, status string",
                ),
                "docs": spark.createDataFrame(
                    [(ID_BASE + i, t) for i, t in zip(new, texts)], "doc_id long, text string"
                ),
                "probe": (ID_BASE + new[0], [float(x) for x in vecs[0, :datagen.IMAGE_DIM]]),
                "eu_rows": len(eu_rows),
                "ugc_rows": len(ugc_rows),
            }
        return getattr(self, f"_{step}")(cycle, self.batch)

    def _commit_eu(self, cycle, b):
        from pyspark.sql import functions as F

        from cultural_heritage_bigdata_project_spark.pipelines import curated

        t0 = time.perf_counter()
        with self.ctx.tracer.span("cleanse.eu"):
            df = curated.cleanse_eu(b["eu"]).withColumn("batch_seq", F.lit(cycle))
        return self._commit(t0, df, self.eu, ["guid"], ["batch_seq"], b["eu_rows"])

    def _commit_ugc(self, cycle, b):
        from cultural_heritage_bigdata_project_spark.pipelines import curated

        t0 = time.perf_counter()
        with self.ctx.tracer.span("cleanse.ugc"):
            df = curated.cleanse_ugc(b["ugc"])
        return self._commit(t0, df, self.ugc, ["guid", "user_id", "ts_us"], ["ts_us"], b["ugc_rows"])

    def _commit(self, t0, df, root, keys, order, raw_rows):
        from cultural_heritage_bigdata_project_spark.streaming import pipelines

        def commit():
            with self.ctx.tracer.span("txn.commit"):
                pipelines.batch_upsert_commit(
                    self.ctx.spark, df, keys, order, root, compact_every=COMPACT_EVERY
                )

        rec = harness.timed_commit(root, commit)
        self.commits.append({**rec, "rows": raw_rows})
        return time.perf_counter() - t0, None

    def _collection_upsert(self, cycle, b):
        from cultural_heritage_bigdata_project_spark.operators import collection

        t0 = time.perf_counter()
        with self.ctx.tracer.span("collection.upsert"):
            collection.collection_upsert(self.ctx.spark, b["points"], self.coll)
        return time.perf_counter() - t0, None

    def _text_upsert(self, cycle, b):
        from cultural_heritage_bigdata_project_spark.operators import text_index

        t0 = time.perf_counter()
        with self.ctx.tracer.span("text_index.upsert"):
            text_index.text_index_upsert(self.ctx.spark, b["docs"], self.text)
        return time.perf_counter() - t0, None

    def _fresh_knn(self, cycle, b):
        from cultural_heritage_bigdata_project_spark.operators import collection

        want, vec = b["probe"]
        t0 = time.perf_counter()
        with self.ctx.tracer.span("ann_index.fresh.construct"):
            df = collection.collection_search(self.ctx.spark, self.coll, "image", vec, k=10)
        with self.ctx.tracer.span("ann_index.fresh.execute"):
            ids = [int(r["vec_id"]) for r in df.collect()]
        dt = time.perf_counter() - t0
        return dt, None if ids[:1] == [want] else f"fresh kNN top hit {ids[:1]} != new item {want}"

    def _fresh_text(self, cycle, b):
        from cultural_heritage_bigdata_project_spark.operators import text_index

        want = b["probe"][0]
        t0 = time.perf_counter()
        with self.ctx.tracer.span("text_index.fresh.construct"):
            df = text_index.text_index_search(self.ctx.spark, self.text, [f"tok{want - ID_BASE}"], top_k=10)
        with self.ctx.tracer.span("text_index.fresh.execute"):
            ids = [int(r["doc_id"]) for r in df.collect()]
        dt = time.perf_counter() - t0
        return dt, None if ids == [want] else f"fresh text search {ids[:3]} != new doc {want}"

    def final_check(self) -> None:
        from cultural_heritage_bigdata_project_spark.operators import txn

        ctx = self.ctx
        ctx.attempted += 1
        n_eu = txn.read_version(ctx.spark, self.eu).count()
        n_ugc = txn.read_version(ctx.spark, self.ugc).count()
        if n_eu != len(self.gen.eu_keys) or n_ugc != len(self.gen.ugc_keys):
            ctx.fail(
                f"cleansed rows eu={n_eu} ugc={n_ugc}, generator distinct keys "
                f"eu={len(self.gen.eu_keys)} ugc={len(self.gen.ugc_keys)}"
            )


def run(ctx) -> None:
    for i in range(SETUP_REPEATS):
        ing = Ingest(ctx, ctx.path(f"ingest{i}"))
        ctx.setup_parts_s.append(ing.setup())
    ing.commits.clear()
    n_cycles = WARMUP_CYCLES + cycle_count(ctx.seconds)
    ops = [(step, c) for c in range(1, n_cycles + 1) for step in STEPS]

    def do_op(n, step, cycle):
        seconds, err = ing.step(cycle, step)
        return seconds, err, {"cycle": cycle}

    ctx.results = harness.run_ops(ctx, ops, do_op, len(STEPS), WARMUP_CYCLES * len(STEPS))
    ing.final_check()
    ctx.persistent_rdds = len(ctx.spark.sparkContext._jsc.getPersistentRDDs())
    ctx.ingest = ing
    harness.loop_metrics(ctx, ctx.results, STEPS)
    cycles: dict[int, float] = {}
    for r in ctx.results:
        cycles[r.info["cycle"]] = cycles.get(r.info["cycle"], 0.0) + r.seconds
    ctx.summary = {
        **{f"{s}_p50_ms": v for s, v in harness.class_medians_ms(ctx.results, STEPS).items()},
        "freshness_p50_ms": median(v * 1000.0 for v in cycles.values()),
        "rows_per_s": sum(ing.gen.raw_rows[c] for c in cycles) / sum(cycles.values()) if cycles else 0.0,
        "rolls": sum(c["roll"] for c in ing.commits),
        "cycles": len(cycles),
    }


def layer_metrics(ctx, groups) -> None:
    tr, L, ing = ctx.tracer, ctx.layer, ctx.ingest
    harness.session_metrics(ctx, groups, harness.host_cpus())
    harness.commit_metrics(ctx, ing.commits[2 * WARMUP_CYCLES:], lambda c: c["rows"])
    L["collection.upsert_ms"] = (harness.span_median_ms(tr, "collection.upsert"), "ms")
    L["text_index.upsert_ms"] = (harness.span_median_ms(tr, "text_index.upsert"), "ms")
    L["ann_index.fresh_construct_ms"] = (harness.span_median_ms(tr, "ann_index.fresh.construct"), "ms")
    L["ann_index.fresh_execute_ms"] = (harness.span_median_ms(tr, "ann_index.fresh.execute"), "ms")
    L["text_index.construct_ms"] = (harness.span_median_ms(tr, "text_index.fresh.construct"), "ms")
    L["text_index.execute_ms"] = (harness.span_median_ms(tr, "text_index.fresh.execute"), "ms")
    n = len([r for r in ctx.results if r.traced])
    for layer in ("collection", "ann_index", "text_index", "txn", "cleanse"):
        L[f"{layer}.self_ms"] = (harness.layer_self_ms(tr, layer, n), "ms")
    L["tracing.overhead_pct"] = (harness.tracing_overhead_pct(ctx.results, STEPS), "%")
