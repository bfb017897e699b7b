"""``dashboard``: read-only serving over indexes built once in set-up.

Set-up builds a two-space collection from ``embeddings`` (image = the
first ``IMAGE_DIM`` = 32 dims, combined = all 64) with a ``status`` payload, re-labels a
seeded 30% of the points ``validated`` with one
``collection_set_payload``, and builds a text index over ``documents``.
It is repeated ``SETUP_REPEATS`` times into fresh roots; ``setup_s``
takes the median build.

One closed-loop client then cycles four op classes in a fixed order:

- ``knn``: ``collection_search`` on the image space, filtered to
  ``status = 'validated'``;
- ``recommend``: ``collection_recommend`` on the combined space;
- ``text``: ``text_index_search``;
- ``hybrid``: ``collection_hybrid_page`` over both spaces.

Each class draws its queries from a seeded pool of ``POOL`` entries
(the four pools together are larger than the engine's 256-entry plan
memo): every other op of a class issues a fresh query, which misses the
memo, and the rest repeat an issued one with Zipf-skewed popularity,
which hits it.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import harness
from datagen import IMAGE_DIM
from harness import median, percentile

TABLES = ("documents", "embeddings")
CLASSES = ("knn", "recommend", "text", "hybrid")
GROUPS = tuple(f"{c}.{kind}" for c in CLASSES for kind in ("fresh", "repeat"))
POOL = 160
TEXT_TERMS = 2
ZIPF_S = 1.1
K = 10
WARMUP_OPS = 2 * len(CLASSES)
OPS_PER_SECOND = 0.8
SETUP_REPEATS = 2
VALIDATED_SHARE = 0.3


def op_count(seconds: int) -> int:
    n = int(round(OPS_PER_SECOND * seconds))
    return max(len(CLASSES), n - n % len(CLASSES))


def schedule(seed: int, n_ops: int, n_points: int, vocab) -> list[tuple[str, int, object]]:
    """The seeded op sequence: ``(group, pool index, query)`` per op,
    classes in fixed round-robin order. Within a class, even-numbered
    ops issue the next fresh query of a seeded pool order (group
    ``<class>.fresh``: a plan-memo miss) and odd ones repeat an
    already-issued query picked with Zipf popularity over issue order
    (``<class>.repeat``: a hit). Every run has the same repeat share,
    and each group's latencies form one cluster, so a group's median
    does not jump between hit and miss."""
    rng = np.random.default_rng([seed, 101])
    base = rng.integers(0, n_points, POOL)
    noise = rng.standard_normal((POOL, 64)) * 0.05
    pools = {
        "knn": [(int(b), tuple(noise[i, :IMAGE_DIM])) for i, b in enumerate(base)],
        "recommend": _distinct(
            lambda: tuple(sorted(int(x) for x in rng.choice(n_points, 2, replace=False)))
        ),
        # two terms each, so every seed's text queries cost alike
        "text": _distinct(
            lambda: tuple(sorted(vocab[int(i)] for i in rng.choice(len(vocab), TEXT_TERMS, replace=False)))
        ),
        "hybrid": [(int(b), tuple(noise[i])) for i, b in enumerate(rng.permutation(base))],
    }
    issued: dict[str, list[int]] = {c: [] for c in CLASSES}
    order = {c: rng.permutation(POOL) for c in CLASSES}
    ops = []
    for i in range(n_ops):
        c = CLASSES[i % len(CLASSES)]
        seen = issued[c]
        repeat = len(seen) % 2 == 1
        if repeat:
            w = 1.0 / np.arange(1, len(seen) + 1) ** ZIPF_S
            pick = seen[int(rng.choice(len(seen), p=w / w.sum()))]
        else:
            pick = int(order[c][len(seen) // 2])
        ops.append((f"{c}.{'repeat' if repeat else 'fresh'}", pick, pools[c][pick]))
        seen.append(pick)
    return ops


def _distinct(draw) -> list:
    """``POOL`` distinct queries from ``draw`` (equal queries would share
    a memo entry, so a fresh one could hit)."""
    out: dict = {}
    while len(out) < POOL:
        out.setdefault(draw(), None)
    return list(out)


class State:
    """The benchmark-side copy of what set-up indexed: vectors, payload
    and corpus, for the reference checks."""

    def __init__(self, data_dir: str, seed: int):
        emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pydict()
        self.ids = np.asarray(emb["vec_id"], dtype=np.int64)
        self.vecs = np.asarray(emb["embedding"], dtype=np.float32)
        self.row = {int(i): n for n, i in enumerate(self.ids)}
        rng = np.random.default_rng([seed, 102])
        self.validated = set(
            int(i) for i in rng.choice(self.ids, int(len(self.ids) * VALIDATED_SHARE), replace=False)
        )
        self.valid_mask = np.array([int(i) in self.validated for i in self.ids])
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pydict()
        self.bm25 = checks.BM25(dict(zip(docs["doc_id"], docs["text"])))

    def query_vector(self, q) -> np.ndarray:
        base, noise = q
        dim = len(noise)
        v = self.vecs[self.row[base], :dim].astype(np.float64) + np.asarray(noise)
        return v / np.linalg.norm(v)


def create_collection(spark, data_dir: str, root: str) -> None:
    """The two-space collection over ``embeddings``: image = the first
    ``IMAGE_DIM`` dims, combined = all of them, with a shared
    ``label``/``status`` payload (every point starts ``pending``)."""
    from pyspark.sql import functions as F

    from cultural_heritage_bigdata_project_spark.operators import collection

    emb = spark.read.parquet(os.path.join(data_dir, "embeddings.parquet"))
    pts = emb.select(
        "vec_id",
        F.slice("embedding", 1, IMAGE_DIM).alias("image_emb"),
        F.col("embedding").alias("combined_emb"),
        "label",
        F.lit("pending").alias("status"),
    )
    collection.collection_create(
        spark,
        pts,
        root,
        spaces={"image": {"vec_col": "image_emb"}, "combined": {"vec_col": "combined_emb"}},
        payload_cols=["label", "status"],
    )


def build(ctx, st: State, root: str) -> dict:
    from cultural_heritage_bigdata_project_spark.operators import collection, text_index

    spark = ctx.spark
    t0 = time.perf_counter()
    create_collection(spark, ctx.data_dir, os.path.join(root, "coll"))
    flips = spark.createDataFrame(
        [(i, "validated") for i in sorted(st.validated)], "vec_id long, status string"
    )
    collection.collection_set_payload(spark, flips, os.path.join(root, "coll"))
    t1 = time.perf_counter()
    docs = spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet")).select("doc_id", "text")
    text_index.build_text_index(spark, docs, os.path.join(root, "text"))
    t2 = time.perf_counter()
    return {"ann_build_s": t1 - t0, "text_build_s": t2 - t1, "total_s": t2 - t0}


def serve(ctx, st: State, roots: dict, cls: str, q):
    """Issue one serve; returns (construct_s, execute_s, rows, query
    vector). Span names carry the layer the call lands in."""
    from cultural_heritage_bigdata_project_spark.operators import collection, text_index

    spark, tr = ctx.spark, ctx.tracer
    qv = None
    t0 = time.perf_counter()
    if cls == "knn":
        qv = st.query_vector(q)
        with tr.span("ann_index.knn.construct"):
            df = collection.collection_search(
                spark, roots["coll"], "image", [float(x) for x in qv], k=K,
                payload_filter="status = 'validated'",
            )
        layer = "ann_index.knn"
    elif cls == "recommend":
        qv = st.vecs[[st.row[i] for i in q]].astype(np.float64).mean(axis=0)
        with tr.span("ann_index.recommend.construct"):
            df = collection.collection_recommend(spark, roots["coll"], "combined", list(q), k=K)
        layer = "ann_index.recommend"
    elif cls == "text":
        with tr.span("text_index.search.construct"):
            df = text_index.text_index_search(spark, roots["text"], list(q), top_k=K)
        layer = "text_index.search"
    else:
        qv = st.query_vector(q)
        with tr.span("ann_index.hybrid.construct"):
            df = collection.collection_hybrid_page(
                spark, roots["coll"],
                {"image": [float(x) for x in qv[:IMAGE_DIM]], "combined": [float(x) for x in qv]},
                k=K, payload_out=["status"],
            )
        layer = "ann_index.hybrid"
    t1 = time.perf_counter()
    with tr.span(f"{layer}.execute"):
        rows = df.collect()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, rows, qv


def check(st: State, cls: str, q, qv, rows) -> str | None:
    if cls == "knn":
        return checks.check_vector_hits(
            rows, st.row, st.vecs[:, :IMAGE_DIM], qv, K, allowed=lambda i: i in st.validated
        )
    if cls == "recommend":
        err = checks.check_vector_hits(rows, st.row, st.vecs, qv, K)
        if err is None and set(q) & {int(r["vec_id"]) for r in rows}:
            err = "recommend returned its own examples"
        return err
    if cls == "text":
        return checks.check_text_hits(rows, st.bm25.search(q, K))
    ids = [int(r["vec_id"]) for r in rows]
    if len(ids) != K or len(set(ids)) != K or any(i not in st.row for i in ids):
        return "hybrid page ids"
    for r in rows:
        want = sum(1.0 / (60.0 + r[c]) for c in ("rank_combined", "rank_image") if r[c] > 0)
        if abs(want - r["rrf_score"]) > 1e-9:
            return "rrf score mismatch"
        want_status = "validated" if int(r["vec_id"]) in st.validated else "pending"
        if r["status"] != want_status:
            return "hybrid payload mismatch"
    return None


def recall(st: State, qv, rows) -> float:
    exact = checks.exact_top_ids(st.ids, st.vecs[:, :IMAGE_DIM], qv, K, mask=st.valid_mask)
    return len(set(exact) & {int(r["vec_id"]) for r in rows}) / float(K)


def run(ctx) -> None:
    from cultural_heritage_bigdata_project_spark.operators import collection

    st = State(ctx.data_dir, ctx.seed)
    builds = []
    for i in range(SETUP_REPEATS):
        root = ctx.path(f"dash{i}")
        builds.append(build(ctx, st, root))
        ctx.setup_parts_s.append(builds[-1]["total_s"])
    roots = {"coll": os.path.join(root, "coll"), "text": os.path.join(root, "text")}
    ctx.builds = builds

    ops = schedule(ctx.seed, WARMUP_OPS + op_count(ctx.seconds), len(st.ids), sorted(st.bm25.postings))

    def do_op(n, group, payload):
        pick, q = payload
        cls = group.split(".")[0]
        if ctx.tracer.enabled:
            with ctx.tracer.span("collection.pins"):  # untimed: outside the serve
                collection.collection_pins(roots["coll"])
        c_s, e_s, rows, qv = serve(ctx, st, roots, cls, q)
        info = {"construct_s": c_s, "execute_s": e_s, "rows": len(rows)}
        if cls == "knn":
            info["recall"] = recall(st, qv, rows)
        return c_s + e_s, check(st, cls, q, qv, rows), info

    # tracing alternates every two rounds, so traced and untraced ops
    # both hold fresh and repeated queries
    ctx.results = harness.run_ops(
        ctx, [(g, (pick, q)) for g, pick, q in ops], do_op, 2 * len(CLASSES), WARMUP_OPS
    )
    ctx.persistent_rdds = len(ctx.spark.sparkContext._jsc.getPersistentRDDs())
    harness.loop_metrics(ctx, ctx.results, GROUPS)
    ctx.summary = {
        **{f"{g}_p50_ms": v for g, v in harness.class_medians_ms(ctx.results, GROUPS).items()},
        "serve_p90_ms": percentile([r.seconds * 1000.0 for r in ctx.results], 90),
        "recall_at_10": _mean(r.info["recall"] for r in ctx.results if r.cls.startswith("knn.")),
        "repeat_share": _mean(r.cls.endswith(".repeat") for r in ctx.results),
        "timed_ops": len(ctx.results),
        "builds_s": builds,
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(ctx, groups) -> None:
    tr, L, res = ctx.tracer, ctx.layer, ctx.results
    traced = [r for r in res if r.traced]
    harness.session_metrics(ctx, groups, harness.host_cpus())
    L["collection.pins_ms"] = (harness.span_median_ms(tr, "collection.pins"), "ms")
    for cls in ("knn", "recommend", "hybrid"):
        for phase in ("construct", "execute"):
            L[f"ann_index.{cls}_{phase}_ms"] = (
                harness.span_median_ms(tr, f"ann_index.{cls}.{phase}"), "ms"
            )
    for phase in ("construct", "execute"):
        L[f"text_index.{phase}_ms"] = (harness.span_median_ms(tr, f"text_index.search.{phase}"), "ms")
    knn = [r for r in traced if r.cls.startswith("knn.")]
    L["ann_index.first_construct_ms"] = (
        median(r.info["construct_s"] * 1000.0 for r in knn if r.cls == "knn.fresh"), "ms"
    )
    L["ann_index.repeat_construct_ms"] = (
        median(r.info["construct_s"] * 1000.0 for r in knn if r.cls == "knn.repeat"), "ms"
    )
    st = harness.span_stats(tr, groups, lambda sp: sp.name == "ann_index.knn.execute")
    results = sum(r.info["rows"] for r in knn)
    L["ann_index.rows_read_per_result"] = (st.records_read / results if results else 0.0, "count")
    L["ann_index.recall_at_10"] = (ctx.summary["recall_at_10"], "ratio")
    L["ann_index.build_s"] = (median(b["ann_build_s"] for b in ctx.builds), "s")
    L["text_index.build_s"] = (median(b["text_build_s"] for b in ctx.builds), "s")
    n = len(traced)
    for layer in ("collection", "ann_index", "text_index"):
        L[f"{layer}.self_ms"] = (harness.layer_self_ms(tr, layer, n), "ms")
    L["tracing.overhead_pct"] = (harness.tracing_overhead_pct(res, GROUPS), "%")
