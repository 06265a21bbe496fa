#!/usr/bin/env python
"""Scale probe: generate synthetic fact AND document tables (defaults
10M rows / 500k docs — ~17x and ~100x the sf0.1 tables) and measure
operator throughput at two sizes each to check scaling behavior.
Writes SCALE_PROBE.md.

Usage: python tools/scale_probe.py [n_rows] [n_docs]

This is the local stand-in for a cluster scale test: if per-row cost
is flat (throughput roughly constant) from the small to the large size
on the same 32 cores, the plans are compute-bound and
partition-parallel, not overhead-bound — the property that transfers
to a 1000-executor run. The document section exercises the
text-pipeline plan shapes (explode-shingle -> md5 -> 64 min-lane
aggregates -> band self-join; broadcast gram dictionary) at sizes
where the LSH band join dominates the fixed scheduling floor.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dpu_olap_spark.functions.text import base_hash60, shingles, tokens
from dpu_olap_spark.session import get_spark


def gen(spark, n: int, path: str) -> None:
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 1_000_000).alias("fk"),
        (F.pmod(F.xxhash64("id"), F.lit(10000)) / 100.0).alias("price"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(50)) + 1).cast("double").alias("qty"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)).cast("int").alias("flag"),
    )
    df.write.mode("overwrite").parquet(path)


def gen_docs(spark, n: int, path: str) -> None:
    """Synthetic documents: ~60 tokens from a 64-word vocabulary, 10%
    exact duplicates (doc re-keyed), matching the shape of the test
    corpus but at probe scale."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(60)),
                lambda i: F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id") % (n * 9 // 10), i), F.lit(64)),
                ),
            ),
        ).alias("text"),
    )
    base.write.mode("overwrite").parquet(path)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def probe(spark, path: str) -> dict[str, float]:
    t = {}
    df = spark.read.parquet(path)
    dim = spark.range(1_000_000).select(
        F.col("id").alias("pk"), (F.col("id") % 25).alias("nation")
    )

    def run(name, frame):
        # best-of-3: single-shot walls at these sizes carry 2-5x GC /
        # scheduling noise (measured); min is the noise-robust stat
        best = min(
            _timed(lambda: frame.write.format("noop").mode("overwrite").save())
            for _ in range(3)
        )
        t[name] = round(best, 3)

    run("filter", df.where(F.col("qty") < 25.0).select("k", "qty", "price"))
    run("sum", df.agg(F.sum(F.col("price").cast("decimal(18,2)")), F.count("*")))
    run(
        "group_agg",
        df.groupBy("flag").agg(
            F.sum(F.col("price").cast("decimal(18,2)")), F.count("*")
        ),
    )
    run(
        "join_agg",
        df.join(dim, df.fk == dim.pk)
        .groupBy("nation")
        .agg(F.sum(F.col("price").cast("decimal(18,2)")), F.count("*")),
    )
    return t


def probe_docs(spark, path: str) -> dict[str, float]:
    """Text-pipeline plan shapes (mirrors llm/dedup.py, llm/curation.py
    — same operators, probe-local data)."""
    t = {}
    docs = spark.read.parquet(path)

    def run(name, frame):
        best = min(
            _timed(lambda: frame.write.format("noop").mode("overwrite").save())
            for _ in range(3)
        )
        t[name] = round(best, 3)

    toks = tokens(F.col("text"))

    run(
        "text_stats",
        docs.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.length("text").alias("n_chars"),
        ).agg(F.avg("n_tokens"), F.max("n_chars"), F.count("*")),
    )

    run(
        "dedup_exact",
        docs.groupBy(F.md5("text").alias("fp")).agg(
            F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n")
        ),
    )

    # full LSH pipeline at production parameters: 64 lanes, 16 bands
    lane_c = [(i * 0x9E3779B97F4A7C15) % (1 << 60) for i in range(64)]
    sh = docs.select("doc_id", F.explode(shingles(toks, 3)).alias("shingle"))
    hashed = sh.select("doc_id", base_hash60(F.col("shingle")).alias("base"))
    lanes = hashed.groupBy("doc_id").agg(
        *[F.min(F.expr(f"base ^ {c}L")).alias(f"mh{s}") for s, c in enumerate(lane_c)]
    )
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col(f"mh{b * 4 + r}") for r in range(4)])
            ).alias("bkey"),
        )
        for b in range(16)
    ]
    bands = lanes.select("doc_id", F.explode(F.array(*entries)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    run("minhash_pairs", pairs.agg(F.count(F.lit(1))))

    # decontamination: broadcast eval gram dictionary, map-side probe;
    # per-doc gram dedup is array_distinct BEFORE explode (map-side)
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(shingles(toks, 3))).alias("g")
    )
    eval_grams = grams.where(F.col("doc_id") % 41 == 0).select("g").distinct()
    corpus = grams.where(F.col("doc_id") % 41 != 0)
    contam = (
        corpus.join(F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.count("hit").alias("n_contam"))
        .where(F.col("n_contam") > 0)
    )
    run("decontaminate", contam.agg(F.count(F.lit(1))))

    # round-3 operators: chunking (map-only sequence+slice+md5),
    # packing (shard-window exclusive prefix sum), redaction (codegen
    # regex) — same plan shapes as llm/chunking.py / llm/curation.py
    starts = docs.select(
        "doc_id",
        toks.alias("t"),
        F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(48))).alias("st"),
    )
    chunk = F.slice(F.col("t"), F.col("st"), 64)
    chunks = starts.select(
        "doc_id",
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )
    run("chunk_documents", chunks.agg(F.count(F.lit(1)), F.sum("n_chunk_tokens")))

    from pyspark.sql import Window

    shard = F.pmod(F.col("doc_id"), F.lit(64)).alias("shard")
    sized = docs.select(shard, "doc_id", F.size(toks).alias("n_tokens"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 256).cast("bigint"),
    ).groupBy("shard", "bin_id").agg(F.count(F.lit(1)), F.sum("n_tokens"))
    run("pack_sequences", packed.agg(F.count(F.lit(1))))

    redacted = docs.select(
        "doc_id",
        F.md5(
            F.regexp_replace(
                F.col("text"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"
            )
        ).alias("fp"),
    )
    run("redact_pii", redacted.agg(F.count(F.lit(1))))

    # round-3 LM family: tf aggregate built once (localCheckpoint) with
    # dl/df derived from it — mirrors llm/text_analysis.py bm25/tfidf
    tok = docs.select("doc_id", F.explode(toks).alias("token"))
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dl, "doc_id").join(F.broadcast(dfreq), "token").select(
        "doc_id",
        (F.col("tf").cast("double") / F.col("dl") * F.col("df")).alias("s"),
    )
    run("bm25_shape", scored.groupBy("doc_id").agg(F.sum("s")).agg(F.count(F.lit(1))))

    # bigram LM: tail-zip bigrams map-side, counts once, totals derived
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bg = (
        docs.where(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("b"))
        .select("b.w1", "b.w2")
    )
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(F.sum("n").alias("nw"))
    run("bigram_lm", c2.join(c1, "w1").agg(F.count(F.lit(1))))
    return t


def gen_events(spark, n: int, path: str) -> None:
    """Synthetic events: ~n/2000 users, 5 event types, timestamps
    spread over ~8 weeks with per-user clustering so 30-min-gap
    sessionization produces multi-event sessions."""
    n_users = max(150, n // 2000)
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64("id"), F.lit(n_users)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("signup", "error", "click", "view", "purchase")]),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        # base hour per user-burst + seconds offset: events cluster
        # into bursts so sessions have >1 event
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(8 * 7 * 24)) * 3600
            + F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1800))
        ).alias("ts"),
        (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(10000)) / 100.0).alias("value"),
    )
    df.write.mode("overwrite").parquet(path)


def probe_events(spark, path: str) -> dict[str, float]:
    """Round-5 event-operator plan shapes (mirrors
    operators/events_analytics.py, llm/curation.py)."""
    from pyspark.sql import Window as W

    t = {}
    ev = spark.read.parquet(path)

    def run(name, frame):
        best = min(
            _timed(lambda: frame.write.format("noop").mode("overwrite").save())
            for _ in range(3)
        )
        t[name] = round(best, 3)

    # session_funnel: the SHIPPED time-chunked builder (not an inline
    # copy — probe numbers must measure the real plan)
    from dpu_olap_spark.operators.events_analytics import chunked_sessions

    e = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    per_sess = chunked_sessions(e)
    conv = (
        F.col("t_view").isNotNull()
        & (F.col("t_click") > F.col("t_view"))
        & (F.col("t_purchase") > F.col("t_click"))
    )
    run(
        "session_funnel",
        per_sess.groupBy("first_touch").agg(
            F.count(F.lit(1)), F.sum(F.when(conv, 1).otherwise(0))
        ),
    )

    # reservoir_sample shape: per-type md5-rank top-K
    wk = W.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    run(
        "reservoir_sample",
        ev.select("event_type", "event_id", F.row_number().over(wk).alias("rk"))
        .where(F.col("rk") <= 7)
        .agg(F.count(F.lit(1))),
    )

    # bloom_filter_join shape: bitmap build on a selective dim + probe
    # prefilter + broadcast verify join (mirrors events_analytics.py)
    n_users_est = ev.agg(F.max("user_id")).first()[0] + 1
    dim = spark.range(n_users_est).select(F.col("id").alias("u"))
    build = dim.where(F.pmod(F.xxhash64("id"), F.lit(5)) == 0)
    bits = None
    for seed in range(4):
        h = F.pmod(F.xxhash64(F.col("u"), F.lit(seed)), F.lit(1024 * 64))
        part = build.select(
            (h / 64).cast("int").alias("w"), (h % 64).cast("int").alias("b")
        )
        bits = part if bits is None else bits.unionAll(part)
    words_rows = (
        bits.groupBy("w")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").alias("m"))
        .collect()
    )
    words = [0] * 1024
    for r in words_rows:
        words[int(r.w)] = int(r.m)
    words_sql = "array(" + ", ".join(f"{v}L" for v in words) + ")"
    tests = []
    for seed in range(4):
        h = f"pmod(xxhash64(user_id, {seed}), {1024 * 64})"
        tests.append(
            f"(shiftright(element_at({words_sql}, CAST({h} / 64 AS INT) + 1),"
            f" CAST({h} % 64 AS INT)) & 1) = 1"
        )
    cand = ev.where(F.expr(" AND ".join(tests))).select("user_id", "value")
    run(
        "bloom_filter_join",
        cand.join(F.broadcast(build), cand.user_id == build.u)
        .groupBy()
        .agg(F.count(F.lit(1)), F.sum("value")),
    )
    return t


def gen_events_zipf(spark, n: int, path: str) -> None:
    """Skewed events (VERDICT r5 'What's missing' #4): ONE hot user
    carries 50% of all rows and one event_type ('click') carries 60%
    — the Zipf-head regime where uniform probes hide skew problems.
    Schema matches gen_events."""
    n_users = max(150, n // 2000)
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(2)) == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_users)))
        .alias("user_id"),
        F.when(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10)) < 6, F.lit("click")
        )
        .otherwise(
            F.element_at(
                F.array(*[F.lit(t) for t in ("signup", "error", "view", "purchase")]),
                (F.pmod(F.xxhash64("id", F.lit(8)), F.lit(4)) + 1).cast("int"),
            )
        )
        .alias("event_type"),
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(8 * 7 * 24)) * 3600
            + F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1800))
        ).alias("ts"),
        (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(10000)) / 100.0).alias("value"),
    )
    df.write.mode("overwrite").parquet(path)


def _exchange_records(frame) -> list[int]:
    """Execute the frame and return shuffleRecordsWritten per Exchange
    in the final AQE plan (outermost first) — the empirical shuffle
    volume, for asserting partial-aggregation/WindowGroupLimit shapes
    actually bound what crosses the wire."""
    frame.collect()
    recs: list[int] = []

    def walk(node):
        nm = node.nodeName()
        if "Exchange" in nm:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleRecordsWritten":
                    recs.append(int(kv._2().value()))
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        if nm == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        elif "QueryStage" in nm:
            walk(node.plan())

    walk(frame._jdf.queryExecution().executedPlan())
    return recs


def probe_cc(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """Connected components over the LSH candidate graph: the REAL
    q_dedup_clusters end-to-end (LSH pairs + iterative min-label
    propagation), plus one propagation round instrumented for shuffle
    volume. Scale claims under test: (a) iteration count tracks the
    duplicate-cluster DIAMETER (2-3 for dup groups), not corpus size;
    (b) each round's only exchange carries label-sized partial-agg
    rows (~nodes-with-edges), never edge x label products."""
    from dpu_olap_spark.llm import dedup as dd

    t: dict[str, float] = {}
    walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        dd.q_dedup_clusters(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        walls.append(time.perf_counter() - t0)
    t["dedup_clusters"] = round(min(walls), 3)
    extra: dict[str, int] = {
        # keyed by sf_dir (r8 ADVICE): the probe reads ITS run's count
        # even if another q_dedup_clusters call interleaves elsewhere
        "cc_iterations": int(dd._LAST_ITERATIONS.get(sf_dir, 0))
    }

    # one propagation round, instrumented via the SAME construction
    # helpers the production loop uses (dd._cc_edges / dd._cc_round —
    # no copy-paste drift). Edges cached: the uncached LSH pairs
    # pipeline is the dominant cost and the unionAll + count would
    # otherwise re-run it four times.
    pairs = dd.q_dedup_minhash_pairs(spark, sf_dir)
    corpus = dd._corpus(spark, sf_dir).select("doc_id")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    labels = corpus.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).repartition(n_part, "doc_id")
    edges = dd._cc_edges(pairs).repartition(n_part, "src").cache()
    extra["cc_edges"] = edges.count()
    recs = _exchange_records(dd._cc_round(edges, labels))
    extra["cc_round_exchange_records"] = recs[0] if recs else -1
    edges.unpersist()
    return t, extra


def probe_events_skew(spark, path: str) -> tuple[dict[str, float], dict[str, int]]:
    """Skew-regime probes: the same plan shapes as probe_events but on
    the Zipfian table, plus salted vs plain hot-key join and the
    reservoir exchange's measured record count (must stay ~K * groups
    * partitions regardless of input rows — the WindowGroupLimit
    partial step's empirical signature)."""
    from pyspark.sql import Window as W

    from dpu_olap_spark.plans.skew import salted_join

    t: dict[str, float] = {}
    extra: dict[str, int] = {}
    ev = spark.read.parquet(path)

    def run(name, frame):
        best = min(
            _timed(lambda: frame.write.format("noop").mode("overwrite").save())
            for _ in range(3)
        )
        t[name] = round(best, 3)

    # session_funnel under user skew: the r6 probe caught the plain
    # per-user window serializing the hot user (50% of rows) through
    # one task (~6x collapse, flat-bad at 10M). The shipped builder
    # now time-chunks — the hot user's corpus-level window partition
    # is (user, 6h-chunk), so its rows spread over #chunks tasks and
    # only bounded session summaries reach the per-user merge window.
    from dpu_olap_spark.operators.events_analytics import chunked_sessions

    e = ev.select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus"))
    run(
        "session_funnel",
        chunked_sessions(e).agg(F.count(F.lit(1))),
    )

    # reservoir shape under GROUP skew (60% of rows in one group):
    # time it AND measure what actually crossed the group-key exchange
    wk = W.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    res_frame = (
        ev.select("event_type", "event_id", F.row_number().over(wk).alias("rk"))
        .where(F.col("rk") <= 7)
        .agg(F.count(F.lit(1)))
    )
    run("reservoir_sample", res_frame)
    recs = _exchange_records(res_frame)
    # innermost exchange = the group-key shuffle (walk appends the
    # final-agg exchange first); report the max survivor count
    extra["reservoir_exchange_records"] = max(recs[1:], default=recs[0] if recs else 0)

    # hot-key join: 50% of probe rows on one key — plain shuffle join
    # vs plans/skew.salted_join
    n_users_est = int(ev.agg(F.max("user_id")).first()[0]) + 1
    dim = spark.range(n_users_est).select(
        F.col("id").alias("bk"), (F.col("id") % 25).alias("payload")
    )
    probe_side = ev.select(F.col("user_id").alias("k"), "value")
    run(
        "plain_hot_join",
        probe_side.join(dim.hint("shuffle_hash"), probe_side.k == dim.bk)
        .groupBy("payload")
        .agg(F.count(F.lit(1)), F.sum("value")),
    )
    # force shuffle join in BOTH variants (the small probe dim would
    # otherwise broadcast and hide the skew this section exists to
    # show — at 100 TB the dim side is assumed beyond broadcast size)
    run(
        "salted_join",
        salted_join(probe_side, dim.hint("shuffle_hash"), "k", "bk")
        .groupBy("payload")
        .agg(F.count(F.lit(1)), F.sum("value")),
    )
    return t, extra




def gen_docs_sources(spark, n: int, path: str) -> None:
    """Docs metadata with SKEWED sources (80% of the corpus from one
    'web' source, the rest split across 2 small sources) — the regime
    where a naive per-source window would pile 80% of the corpus onto
    one reducer."""
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 8, F.lit("web"))
        .otherwise(F.concat(F.lit("src"), (F.col("id") % 2).cast("string")))
        .alias("source"),
        (F.pmod(F.xxhash64(F.col("id")), F.lit(1900)) + 100).alias("n_chars"),
    ).write.mode("overwrite").parquet(path)


def probe_corpus_mix(spark, path: str) -> tuple[dict[str, float], dict[str, int]]:
    """corpus_mix budget selection (the SHIPPED llm/curation.py
    builder) on skewed sources; also measures every exchange's record
    count — with the exchange-free mapInPandas phase 1 (r7) the plan
    has ONE exchange, the per-source candidate shuffle, and its
    record count must stay ~budget-bounded regardless of corpus size
    or the 80%-hot source."""
    from dpu_olap_spark.llm.curation import budget_mix

    docs = spark.read.parquet(path).select("doc_id", "source", "n_chars")
    t: dict[str, float] = {}
    extra: dict[str, int] = {}
    mix = budget_mix(docs, 50_000)

    best = min(
        _timed(lambda: mix.write.format("noop").mode("overwrite").save())
        for _ in range(3)
    )
    t["corpus_mix"] = round(best, 3)
    recs = _exchange_records(mix)
    # One exchange expected (plan-gated); record max so a regression
    # that re-introduces a corpus-level shuffle shows up as a blowup.
    extra["mix_source_exchange_records"] = max(recs) if recs else -1
    extra["mix_all_exchanges"] = len(recs)
    return t, extra


def gen_docs_boiler(spark, n: int, path: str) -> None:
    """Synthetic docs for the paragraph-dedup skew probe: 30 tokens
    per doc (10 three-token segments). HALF the docs open with the
    SAME boilerplate segment (one segment shared by n/2 distinct
    docs — far past the drop threshold); every other token is
    hash-unique to its doc, so all remaining segments are singletons."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.when(F.col("id") % 2 == 0, F.lit("hot aa bb")).otherwise(
                F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(" dd ee"))
            ),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(27)),
                    lambda i: F.concat(
                        F.lit("u"), F.xxhash64(F.col("id"), i).cast("string")
                    ),
                ),
            ),
        ).alias("text"),
    )
    base.write.mode("overwrite").parquet(path)


def probe_paragraph(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """The REAL q_dedup_paragraph under boilerplate skew (one segment
    in 50% of docs). Scale claims under test: (a) the hot segment
    cannot concentrate a partition — the distinct expansion exchanges
    on (seg, doc_id), spreading the hot segment's rows across all
    partitions by doc_id, and the map-side partial agg has already
    collapsed intra-doc repeats; (b) the per-seg count exchange
    carries ~one row per (seg, doc_id) pair — linear in corpus size,
    never quadratic in the hot segment's document count."""
    from dpu_olap_spark.llm import dedup as dd

    walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        dd.q_dedup_paragraph(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        walls.append(time.perf_counter() - t0)
    t = {"dedup_paragraph": round(min(walls), 3)}
    recs = _exchange_records(dd.q_dedup_paragraph(spark, sf_dir))
    extra = {"para_max_exchange_records": max(recs) if recs else -1,
             "para_n_exchanges": len(recs)}
    return t, extra


def gen_part(spark, n: int, path: str) -> None:
    """Synthetic part-like table matching the real distribution
    (sizes 1..50, prices 900-1000 -> cents 90000-99990): the regime
    where the Pareto frontier is bounded by distinct sizes, so the
    skyline's phase-2 merge input must stay ~constant as n grows."""
    df = spark.range(n).select(
        F.col("id").alias("p_partkey"),
        (F.pmod(F.xxhash64("id"), F.lit(50)) + 1).cast("int").alias("p_size"),
        (
            900.0 + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10000)) / 100.0
        ).alias("p_retailprice"),
    )
    df.write.mode("overwrite").parquet(path)


def probe_skyline(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """Two-phase skyline on the REAL q_skyline_pareto: wall best-of-3
    plus the survivor flow into the single-partition phase-2 sweep
    (the smallest exchange's shuffleRecordsWritten) — the number that
    must NOT grow with the fact table for the plan to hold at 100 TB."""
    from dpu_olap_spark.registry import all_queries

    q = all_queries()["skyline_pareto"]
    best = min(
        _timed(
            lambda: q.build(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        for _ in range(3)
    )
    frame = q.build(spark, sf_dir)
    recs = _exchange_records(frame)
    return (
        {"skyline_pareto": round(best, 3)},
        {
            "skyline_phase2_rows": min(recs),
            "skyline_n_exchanges": len(recs),
            "skyline_frontier_rows": frame.count(),
        },
    )


def probe_twa(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """time_weighted_avg on the REAL implementation: wall best-of-3
    plus the exchange count (must stay 1 — the lead() window and the
    per-user aggregate share one user_id shuffle) and its record
    volume (= input rows, shuffled exactly once)."""
    from dpu_olap_spark.registry import all_queries

    q = all_queries()["time_weighted_avg"]
    best = min(
        _timed(
            lambda: q.build(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        for _ in range(3)
    )
    recs = _exchange_records(q.build(spark, sf_dir))
    return (
        {"time_weighted_avg": round(best, 3)},
        {"twa_n_exchanges": len(recs), "twa_exchange_records": max(recs)},
    )


def gen_orders(spark, n: int, path: str) -> None:
    """Synthetic orders-like table (5 priority groups, prices
    $1,000-$41,000 -> ~4M distinct cents, custkeys over 100k values):
    the regime where mad_outliers' exact-median buffers are widest and
    histogram_median's (group, bucket) collapse matters."""
    df = spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("o_custkey"),
        F.concat(
            F.lit("P"), F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5))
        ).alias("o_orderpriority"),
        (
            1000.0 + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(4_000_000)) / 100.0
        ).alias("o_totalprice"),
        F.lit("1995-06-01").cast("timestamp").alias("o_orderdate"),
    )
    df.write.mode("overwrite").parquet(path)


def gen_customer(spark, n: int, path: str) -> None:
    df = spark.range(n).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
    )
    df.write.mode("overwrite").parquet(path)


def probe_mad(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """mad_outliers on the REAL implementation, both re-derivation
    regimes (r13 verdict #4): the shipped plan re-derives the
    unmaterialized dev subtree under the mad branch (one extra fact
    scan, reused broadcast); the alternative localCheckpoints dev.
    Walls for BOTH decide the documented checkpoint-vs-rescan
    crossover empirically; the exchange audit shows the exact-median
    shuffles stay partial-aggregated (percentile buffers map-side —
    records ~ groups x map partitions, never raw fact rows)."""
    from dpu_olap_spark.operators.advanced import mad_outliers_df

    walls = {}
    for label, mat in (("mad_outliers", False), ("mad_outliers_ckpt", True)):
        walls[label] = round(
            min(
                _timed(
                    lambda: mad_outliers_df(spark, sf_dir, materialize_dev=mat)
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                for _ in range(3)
            ),
            3,
        )
    recs = _exchange_records(mad_outliers_df(spark, sf_dir))
    return walls, {
        "mad_n_exchanges": len(recs),
        "mad_max_exchange_records": max(recs),
    }


def probe_histmed(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """histogram_median on the SAME orders table as probe_mad — the
    direct exact-vs-sketch contrast the operator exists for.  The
    audit records both exchanges: the fact-scale one must carry only
    partial-combined (group, bucket) counts (bounded by groups x
    buckets x map partitions, NOT fact rows), the second only the
    bounded histogram."""
    from dpu_olap_spark.registry import all_queries

    q = all_queries()["histogram_median"]
    best = min(
        _timed(
            lambda: q.build(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        for _ in range(3)
    )
    recs = _exchange_records(q.build(spark, sf_dir))
    return (
        {"histogram_median": round(best, 3)},
        {
            "histmed_n_exchanges": len(recs),
            "histmed_max_exchange_records": max(recs),
        },
    )


def probe_nullsafe(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """null_safe_join on growing fact AND raw-dim sizes: the dim side
    is pre-aggregated to <=101 rows before the join, so it must STAY
    broadcast however large the raw customer table grows — the audit
    records whether the executed (post-AQE) join is still a
    BroadcastHashJoin and the largest shuffle's row count."""
    from dpu_olap_spark.registry import all_queries

    q = all_queries()["null_safe_join"]
    best = min(
        _timed(
            lambda: q.build(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        for _ in range(3)
    )
    frame = q.build(spark, sf_dir)
    recs = _exchange_records(frame)

    broadcast_join = 0

    def walk(node):
        nonlocal broadcast_join
        if "BroadcastHashJoin" in node.nodeName():
            broadcast_join = 1
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        if node.nodeName() == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        elif "QueryStage" in node.nodeName():
            walk(node.plan())

    walk(frame._jdf.queryExecution().executedPlan())
    return (
        {"null_safe_join": round(best, 3)},
        {
            "nullsafe_broadcast_join": broadcast_join,
            "nullsafe_n_exchanges": len(recs),
            "nullsafe_max_exchange_records": max(recs) if recs else 0,
        },
    )


def gen_lineitem(spark, n: int, path: str) -> None:
    """Synthetic lineitem-like table (3 returnflag groups, prices
    $1,000-$41,000 -> ~400 buckets/group at $1,000 width, integral
    quantities 1-50 incl. a 2% zero-weight slice, 2 linestatus
    groups): the histogram_percentile / exact_weighted_median
    regime."""
    df = spark.range(n).select(
        F.col("id").alias("l_orderkey"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) + 1).cast("int"),
        ).alias("l_returnflag"),
        (
            1000.0 + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(4_000_000)) / 100.0
        ).alias("l_extendedprice"),
        F.when(F.pmod(F.xxhash64("id", F.lit(4)), F.lit(50)) == 0, F.lit(0.0))
        .otherwise(
            (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(50)) + 1).cast("double")
        )
        .alias("l_quantity"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F")),
            (F.pmod(F.xxhash64("id", F.lit(6)), F.lit(2)) + 1).cast("int"),
        ).alias("l_linestatus"),
    )
    df.write.mode("overwrite").parquet(path)


def probe_histpctl(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """histogram_percentile (r15): the same bounded-histogram contract
    as histogram_median, but ONE histogram serving all three quartiles
    — the audit records both exchanges (fact-scale one carries only
    partial-combined (group, bucket) counts)."""
    from dpu_olap_spark.registry import all_queries

    q = all_queries()["histogram_percentile"]
    best = min(
        _timed(
            lambda: q.build(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        for _ in range(3)
    )
    recs = _exchange_records(q.build(spark, sf_dir))
    return (
        {"histogram_percentile": round(best, 3)},
        {
            "histpctl_n_exchanges": len(recs),
            "histpctl_max_exchange_records": max(recs),
        },
    )


def probe_exact_refine(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """exact_median_refine + exact_quartiles_refine (r15) on the SAME
    orders table as probe_mad/probe_histmed — the two-pass exact
    order-statistic path the histogram bracket points at.  The audit
    records every exchange: the histogram exchanges stay bounded by
    groups x buckets, and the pass-2 rank exchange carries ONLY the
    target-bucket prune survivors (~n_targets/n_buckets of the fact —
    the documented scan-cheap/shuffle-lean trade), plus whether the
    pass-2 targets join executed as a BroadcastHashJoin."""
    from dpu_olap_spark.registry import all_queries

    walls: dict[str, float] = {}
    extra: dict[str, int] = {}
    for name, tag in (
        ("exact_median_refine", "exmed"),
        ("exact_quartiles_refine", "exquart"),
        ("exact_weighted_median", "exwmed"),
    ):
        q = all_queries()[name]
        walls[name] = round(
            min(
                _timed(
                    lambda: q.build(spark, sf_dir)
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                for _ in range(3)
            ),
            3,
        )
        frame = q.build(spark, sf_dir)
        recs = _exchange_records(frame)
        broadcast_join = 0

        def walk(node):
            nonlocal broadcast_join
            if "BroadcastHashJoin" in node.nodeName():
                broadcast_join = 1
            for i in range(node.children().size()):
                walk(node.children().apply(i))
            if node.nodeName() == "AdaptiveSparkPlan":
                walk(node.executedPlan())
            elif "QueryStage" in node.nodeName():
                walk(node.plan())

        walk(frame._jdf.queryExecution().executedPlan())
        extra[f"{tag}_n_exchanges"] = len(recs)
        extra[f"{tag}_max_exchange_records"] = max(recs)
        extra[f"{tag}_broadcast_join"] = broadcast_join
    return walls, extra


def gen_docs_langs(spark, n: int, path: str) -> None:
    """Docs metadata with skewed sources (80% 'web') AND skewed langs
    (60% 'en', the rest split over 4 minority languages) — the
    group_mode regime where a naive per-source fact sort would pile
    the hot source onto one reducer."""
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 8, F.lit("web"))
        .otherwise(F.concat(F.lit("src"), (F.col("id") % 2).cast("string")))
        .alias("source"),
        F.when(F.pmod(F.xxhash64("id", F.lit(5)), F.lit(10)) < 6, F.lit("en"))
        .otherwise(
            F.element_at(
                F.array(F.lit("de"), F.lit("fr"), F.lit("es"), F.lit("zh")),
                (F.pmod(F.xxhash64("id", F.lit(6)), F.lit(4)) + 1).cast("int"),
            )
        )
        .alias("lang"),
    ).write.mode("overwrite").parquet(path)


def probe_group_mode(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """group_mode (r15) under an 80%-hot source: the audit records
    both exchanges — the fact-scale one must carry only
    partial-combined (source, lang) counts (bounded by sources x
    langs x map partitions, independent of corpus size and the hot
    source), the second only the bounded count table."""
    from dpu_olap_spark.registry import all_queries

    q = all_queries()["group_mode"]
    best = min(
        _timed(
            lambda: q.build(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        for _ in range(3)
    )
    recs = _exchange_records(q.build(spark, sf_dir))
    return (
        {"group_mode": round(best, 3)},
        {
            "gmode_n_exchanges": len(recs),
            "gmode_max_exchange_records": max(recs),
        },
    )


def probe_heavy_hitters(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """heavy_hitters (r15) on the events table: the audit records both
    exchanges — the fact-scale one carries only partial-combined
    (day, type) counts (bounded by days x types x map partitions,
    independent of event volume), the second the bounded count
    table."""
    from dpu_olap_spark.registry import all_queries

    q = all_queries()["heavy_hitters"]
    best = min(
        _timed(
            lambda: q.build(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        for _ in range(3)
    )
    recs = _exchange_records(q.build(spark, sf_dir))
    return (
        {"heavy_hitters": round(best, 3)},
        {
            "hh_n_exchanges": len(recs),
            "hh_max_exchange_records": max(recs),
        },
    )


def gen_tpcds_star(spark, n: int, sf_dir: str) -> None:
    """Synthetic star for the TPC-DS-lite probes: lineitem(n) with
    25 brands x 84 ship months x 3 return flags, part(n//100) with
    brand/type hierarchy, orders(n//4) over the same 84 months x 5
    priorities, customer(n//40) over 25 nations — the regimes where
    q36's rollup cells, q47's brand-months, and q51's month axis must
    stay FLAT as the facts grow."""
    os.makedirs(sf_dir, exist_ok=True)
    n_parts = max(1000, n // 100)
    spark.range(n).select(
        F.col("id").alias("l_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(9)), F.lit(n_parts)).alias("l_partkey"),
        (
            1000.0 + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(4_000_000)) / 100.0
        ).alias("l_extendedprice"),
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(11)) / 100.0).alias(
            "l_discount"
        ),
        (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(50)) + 1)
        .cast("double")
        .alias("l_quantity"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) + 1).cast("int"),
        ).alias("l_returnflag"),
        # 84 distinct months spread over 7 years
        (
            F.lit("1995-01-01").cast("timestamp")
            + F.make_interval(
                F.lit(0),
                F.pmod(F.xxhash64("id", F.lit(2)), F.lit(84)).cast("int"),
            )
        ).alias("l_shipdate"),
        F.pmod(F.xxhash64("id", F.lit(11)), F.lit(max(100, n // 1000)))
        .alias("l_suppkey"),
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "lineitem.parquet"))
    spark.range(max(100, n // 1000)).select(
        F.col("id").alias("s_suppkey"),
        F.pmod(F.xxhash64("id", F.lit(6)), F.lit(25)).alias("s_nationkey"),
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "supplier.parquet"))
    spark.range(n_parts).select(
        F.col("id").alias("p_partkey"),
        F.concat(
            F.lit("Brand#"), F.pmod(F.xxhash64("id"), F.lit(25))
        ).alias("p_brand"),
        F.concat(
            F.lit("TYPE"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(6))
        ).alias("p_type"),
        (
            900.0 + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(10000)) / 100.0
        ).alias("p_retailprice"),
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "part.parquet"))
    n_orders = max(1000, n // 4)
    n_cust = max(500, n // 40)
    spark.range(n_orders).select(
        F.col("id").alias("o_orderkey"),
        F.pmod(F.xxhash64("id"), F.lit(n_cust)).alias("o_custkey"),
        F.element_at(
            F.array(*[F.lit(p) for p in (
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                "5-LOW")]),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)) + 1).cast("int"),
        ).alias("o_orderpriority"),
        (
            1000.0 + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(4_000_000)) / 100.0
        ).alias("o_totalprice"),
        (
            F.lit("1995-01-01").cast("timestamp")
            + F.make_interval(
                F.lit(0),
                F.pmod(F.xxhash64("id", F.lit(3)), F.lit(84)).cast("int"),
            )
        ).alias("o_orderdate"),
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "orders.parquet"))
    spark.range(n_cust).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
        F.pmod(F.xxhash64("id", F.lit(4)), F.lit(25)).alias("c_nationkey"),
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "customer.parquet"))


def probe_tpcds(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """The r16 TPC-DS-lite shapes at volume: walls best-of-3 plus the
    exchange audits that make each one's 100 TB claim falsifiable —

    - q47: the ONLY fact-scale exchange carries partial-combined
      (brand, month) sums (bounded by cells x map partitions); the
      window exchange carries the ~2,100-row bounded cell table, FLAT
      in fact size;
    - q36: the rollup exchange carries partial-combined Expand output
      (<= 3 levels x cells x map partitions); the rank window input is
      the bounded rollup table;
    - q51: both channel exchanges carry <= 84 month rows each after
      map-side partial aggregation; the single-partition cumulative
      exchange carries the spliced <= 84-row axis;
    - q1: the window exchange carries CUSTOMER-level rows (grows with
      the customer dimension, never the fact);
    - q14 (r17): the fact exchange carries partial-combined
      (supplier, month, channel) cells — suppliers x 84 x 3, sublinear
      in fact size; the INTERSECT semi-joins and the join-back run
      over those bounded cell tables;
    - q67 (r17): the rollup exchange carries Expand output bounded by
      cells x levels; WindowGroupLimit caps what crosses the window
      exchange at 5 rows per brand per map partition;
    - q78 (r17): both channel exchanges carry partial-combined
      (part, year) cells; the returned-parts anti-join side is a
      bounded DISTINCT broadcast;
    - q23 (r18): the frequency exchange carries partial-combined
      (part, channel) counts, the customer exchange per-customer
      partial sums (both grow with their DIMENSION, never the fact);
      the scalar threshold is a 1-row broadcast; the final pass
      semi-joins the fact map-side before the month rollup;
    - q64 (r18): all four chain inputs exchange partial-combined
      (supplier, year) cells — suppliers x 7 years, sublinear in fact
      size; the chain joins and the strict-growth filter run over
      those bounded tables;
    - q5 (r18b): the only fact-scale exchange is the orderkey
      co-partitioning of the UNIONed legs against orders (the shape's
      one unavoidable fact shuffle, shared with fact_fact_join); the
      (channel, supplier) cells above it are map-combined and the
      rollup's Expand consumes the bounded cell table;
    - q93 (r18b): both channel exchanges carry order-grain cells
      after a ~4x map-side combine (they grow with the ORDER
      dimension, never the line count); the customer re-aggregation
      is customer-bounded and the top-100 head crosses its exchange
      at <= 100 rows per partition (TakeOrderedAndProject);
    - q39 (r18c): the ONLY fact-scale exchange carries partial-combined
      (supplier, month) moment cells (n, sum q, sum q^2 — second
      moments compose under partial aggregation); the consecutive-month
      self-join and the supplier broadcast run over the bounded cell
      table, never the fact;
    - q49 (r18c): the fact-scale exchange is the orderkey
      co-partitioning against orders for the channel label (the shape's
      one unavoidable fact shuffle, shared with q5/fact_fact_join); the
      (channel, part) cells map-combine above it and both rank-window
      exchanges carry the bounded cell table hash-partitioned by
      channel."""
    from dpu_olap_spark.registry import all_queries

    walls: dict[str, float] = {}
    extra: dict[str, int] = {}
    for name in ("tpcds_q47", "tpcds_q36", "tpcds_q51", "tpcds_q1",
                 "tpcds_q14", "tpcds_q67", "tpcds_q78", "tpcds_q58",
                 "tpcds_q23", "tpcds_q64", "tpcds_q5", "tpcds_q93",
                 "tpcds_q39", "tpcds_q49"):
        q = all_queries()[name]
        walls[name] = round(
            min(
                _timed(
                    lambda: q.build(spark, sf_dir)
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                for _ in range(3)
            ),
            3,
        )
        recs = _exchange_records(q.build(spark, sf_dir))
        key = name.removeprefix("tpcds_")
        extra[f"{key}_n_exchanges"] = len(recs)
        extra[f"{key}_min_exchange_records"] = min(recs)
        extra[f"{key}_max_exchange_records"] = max(recs)
    return walls, extra


def gen_events_file(spark, n: int, sf_dir: str) -> None:
    """gen_events, collapsed to the single FILE named events.parquet
    that load_events_stream's pathGlobFilter contract expects."""
    import glob
    import shutil

    os.makedirs(sf_dir, exist_ok=True)
    tmp = os.path.join(sf_dir, "_events_multi")
    gen_events(spark, n, tmp)
    one = os.path.join(sf_dir, "_events_one")
    spark.read.parquet(tmp).coalesce(1).write.mode("overwrite").parquet(one)
    part = glob.glob(os.path.join(one, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(sf_dir, "events.parquet"))
    shutil.rmtree(tmp)
    shutil.rmtree(one)


def probe_stream_state(
    spark, sf_dir: str, n_events: int
) -> tuple[dict[str, float], dict[str, int]]:
    """The streaming state family (r14 verdict #8 — the one operator
    class with no scale section, and every round's top wall-times):
    run the REAL stateful queries end-to-end (availableNow drain into
    a checkpoint, 8 state partitions) and audit that STATE tracks
    KEYS / the watermark horizon, never the full input:

    - rocksdb_state_agg (update-mode grouped agg on the RocksDB
      provider): final state rows == distinct (user, type) keys — the
      fixture has ~2,000 events per user, all collapsing into one
      state row per key, so state is FLAT in events-per-key;
    - joinstate_read (symmetric stream-stream join state, read back
      through format('statestore')): the returned frame IS the
      surviving state — watermark eviction bounds it to the last
      ~1-1.5 h of event time (rate x fixed horizon), a sliver of the
      8-week input;
    - stream_full_outer_join: wall + emitted rows (the eviction-driven
      null-extension path at volume).

    Walls are best-of-2 (each timing includes the full micro-batch
    drain + checkpoint init; state stores are per-key distributed —
    nothing accumulates on the driver)."""
    from dpu_olap_spark.registry import all_queries

    walls: dict[str, float] = {}
    extra: dict[str, int] = {}
    got: dict[str, object] = {}

    for name in ("rocksdb_state_agg", "joinstate_read",
                 "stream_full_outer_join", "stream_histogram_pctl"):
        q = all_queries()[name]
        walls[name] = round(
            min(
                _timed(lambda: got.__setitem__(name, q.build(spark, sf_dir)))
                for _ in range(2)
            ),
            3,
        )
    extra["agg_state_keys"] = got["rocksdb_state_agg"].count()
    # r16: the streaming bounded histogram — state cells = groups x
    # buckets, FLAT in event volume (the whole design claim)
    from dpu_olap_spark.sources.tables import load_events_stream
    from dpu_olap_spark.streaming import stateful as _st

    hist_out = _st.streaming_bucket_counts(load_events_stream(spark, sf_dir))
    from dpu_olap_spark.sources.tables import run_to_memory_sink

    hist = run_to_memory_sink(hist_out, "probe_hist", "update", state_partitions=8)
    extra["hist_state_cells"] = (
        hist.select("event_type", "b").distinct().count()
    )
    sides = {
        r["side"]: r["count"]
        for r in got["joinstate_read"].groupBy("side").count().collect()
    }
    extra["join_state_left_rows"] = int(sides.get("left", 0))
    extra["join_state_right_rows"] = int(sides.get("right", 0))
    extra["full_outer_rows"] = got["stream_full_outer_join"].count()
    extra["events_in"] = n_events
    return walls, extra


def _table(title: str, results: dict[int, dict[str, float]], unit_rows: bool) -> list[str]:
    lines = [
        title,
        "",
        "| operator | "
        + " | ".join(f"{r:,} {'rows' if unit_rows else 'docs'} (s / M/s)" for r in results)
        + " |",
        "|---|" + "---|" * len(results),
    ]
    ops = list(next(iter(results.values())))
    for op in ops:
        cells = []
        for rows, res in results.items():
            secs = res[op]
            cells.append(f"{secs:.2f} / {rows / secs / 1e6:.2f}")
        lines.append(f"| {op} | " + " | ".join(cells) + " |")
    return lines


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[int, dict[str, float]] = {}
    doc_results: dict[int, dict[str, float]] = {}
    event_results: dict[int, dict[str, float]] = {}
    skew_results: dict[int, dict[str, float]] = {}
    skew_extra: dict[int, dict[str, int]] = {}
    mix_results: dict[int, dict[str, float]] = {}
    mix_extra: dict[int, dict[str, int]] = {}
    gm_results: dict[int, dict[str, float]] = {}
    gm_extra: dict[int, dict[str, int]] = {}
    cc_results: dict[int, dict[str, float]] = {}
    cc_extra: dict[int, dict[str, int]] = {}
    para_results: dict[int, dict[str, float]] = {}
    para_extra: dict[int, dict[str, int]] = {}
    sky_results: dict[int, dict[str, float]] = {}
    sky_extra: dict[int, dict[str, int]] = {}
    twa_results: dict[int, dict[str, float]] = {}
    twa_extra: dict[int, dict[str, int]] = {}
    mad_results: dict[int, dict[str, float]] = {}
    mad_extra: dict[int, dict[str, int]] = {}
    ns_results: dict[int, dict[str, float]] = {}
    ns_extra: dict[int, dict[str, int]] = {}
    stream_results: dict[int, dict[str, float]] = {}
    tpcds_results: dict[int, dict[str, float]] = {}
    tpcds_extra: dict[int, dict[str, int]] = {}
    stream_extra: dict[int, dict[str, int]] = {}
    sizes = sorted({600_000, n})
    doc_sizes = sorted({50_000, n_docs})
    event_sizes = sorted({1_000_000, n})
    with tempfile.TemporaryDirectory() as d:
        for rows in sizes:
            path = os.path.join(d, f"fact_{rows}")
            gen(spark, rows, path)
            results[rows] = probe(spark, path)  # best-of-3 self-warms
        for docs_n in doc_sizes:
            path = os.path.join(d, f"docs_{docs_n}")
            gen_docs(spark, docs_n, path)
            doc_results[docs_n] = probe_docs(spark, path)  # best-of-3 self-warms
        for ev_n in event_sizes:
            path = os.path.join(d, f"events_{ev_n}")
            gen_events(spark, ev_n, path)
            event_results[ev_n] = probe_events(spark, path)
        for ev_n in event_sizes:
            path = os.path.join(d, f"events_zipf_{ev_n}")
            gen_events_zipf(spark, ev_n, path)
            skew_results[ev_n], skew_extra[ev_n] = probe_events_skew(spark, path)
        for docs_n in sorted({500_000, n // 2}):
            path = os.path.join(d, f"docs_src_{docs_n}")
            gen_docs_sources(spark, docs_n, path)
            mix_results[docs_n], mix_extra[docs_n] = probe_corpus_mix(spark, path)
        for docs_n in doc_sizes:
            sf = os.path.join(d, f"gmode_sf_{docs_n}")
            gen_docs_langs(spark, docs_n, os.path.join(sf, "documents.parquet"))
            gm_results[docs_n], gm_extra[docs_n] = probe_group_mode(spark, sf)
        for docs_n in doc_sizes:
            sf = os.path.join(d, f"cc_sf_{docs_n}")
            gen_docs(spark, docs_n, os.path.join(sf, "documents.parquet"))
            cc_results[docs_n], cc_extra[docs_n] = probe_cc(spark, sf)
        for docs_n in doc_sizes:
            sf = os.path.join(d, f"para_sf_{docs_n}")
            gen_docs_boiler(spark, docs_n, os.path.join(sf, "documents.parquet"))
            para_results[docs_n], para_extra[docs_n] = probe_paragraph(spark, sf)
        for rows in sizes:
            sf = os.path.join(d, f"sky_sf_{rows}")
            gen_part(spark, rows, os.path.join(sf, "part.parquet"))
            sky_results[rows], sky_extra[rows] = probe_skyline(spark, sf)
        for ev_n in event_sizes:
            sf = os.path.join(d, f"twa_sf_{ev_n}")
            gen_events(spark, ev_n, os.path.join(sf, "events.parquet"))
            twa_results[ev_n], twa_extra[ev_n] = probe_twa(spark, sf)
            hh_w, hh_x = probe_heavy_hitters(spark, sf)
            twa_results[ev_n].update(hh_w)
            twa_extra[ev_n].update(hh_x)
        for rows in sizes:
            sf = os.path.join(d, f"mad_sf_{rows}")
            gen_orders(spark, rows, os.path.join(sf, "orders.parquet"))
            gen_customer(spark, rows // 4, os.path.join(sf, "customer.parquet"))
            gen_lineitem(spark, rows, os.path.join(sf, "lineitem.parquet"))
            mad_results[rows], mad_extra[rows] = probe_mad(spark, sf)
            hm_w, hm_x = probe_histmed(spark, sf)
            mad_results[rows].update(hm_w)
            mad_extra[rows].update(hm_x)
            hp_w, hp_x = probe_histpctl(spark, sf)
            mad_results[rows].update(hp_w)
            mad_extra[rows].update(hp_x)
            ns_results[rows], ns_extra[rows] = probe_nullsafe(spark, sf)
            er_w, er_x = probe_exact_refine(spark, sf)
            mad_results[rows].update(er_w)
            mad_extra[rows].update(er_x)
        for ev_n in event_sizes:
            sf = os.path.join(d, f"stream_sf_{ev_n}")
            gen_events_file(spark, ev_n, sf)
            stream_results[ev_n], stream_extra[ev_n] = probe_stream_state(
                spark, sf, ev_n
            )
        for rows in sizes:
            sf = os.path.join(d, f"tpcds_sf_{rows}")
            gen_tpcds_star(spark, rows, sf)
            tpcds_results[rows], tpcds_extra[rows] = probe_tpcds(spark, sf)
    lines = [
        "# SCALE_PROBE — operator throughput vs data size",
        "",
        "Generated by tools/scale_probe.py (synthetic tables, local[32]).",
        "Rows/sec should be roughly flat or IMPROVE with size if plans are",
        "partition-parallel; a collapse would indicate overhead-bound or",
        "skewed plans.",
        "",
    ]
    lines += _table("## Fact-table operators", results, unit_rows=True)
    lines += [""]
    lines += _table(
        "## Document-pipeline operators (64-lane MinHash, broadcast decontam)",
        doc_results,
        unit_rows=False,
    )
    lines += [""]
    lines += _table(
        "## Event-pipeline operators (sessionize/sample/bloom, round 5)",
        event_results,
        unit_rows=True,
    )
    lines += [""]
    lines += _table(
        "## Zipfian skew regime (hot user = 50% of rows, hot group = 60%)",
        skew_results,
        unit_rows=True,
    )
    lines += [
        "",
        "Reservoir group-key exchange, measured shuffleRecordsWritten "
        "(WindowGroupLimit partial keeps survivors ~ K x groups x map "
        "partitions, independent of input rows and group skew): "
        + ", ".join(
            f"{rows:,} rows -> {skew_extra[rows]['reservoir_exchange_records']}"
            for rows in skew_extra
        ),
        "",
        "plain_hot_join vs salted_join above share identical inputs and a "
        "forced shuffle-hash build; the gap is pure hot-key serialization.",
        "",
    ]
    lines += _table(
        "## Budgeted corpus mix, 80%-hot source (two-phase prefix sum)",
        mix_results,
        unit_rows=True,
    )
    lines += [
        "",
        "corpus_mix smallest exchange, measured shuffleRecordsWritten "
        "(phase-1 local budget filter keeps candidates ~ budget/min_chars "
        "x map partitions per source, independent of corpus size and "
        "source skew): "
        + ", ".join(
            f"{rows:,} rows -> {mix_extra[rows]['mix_source_exchange_records']}"
            for rows in mix_extra
        ),
        "",
    ]
    lines += _table(
        "## Connected components over the LSH graph (real q_dedup_clusters)",
        cc_results,
        unit_rows=False,
    )
    lines += [
        "",
        "CC convergence and per-round shuffle, measured on the real "
        "implementation (iterations = duplicate-cluster diameter, not "
        "corpus size; the round's single exchange carries label-sized "
        "partial-agg rows, never edge x label products): "
        + "; ".join(
            f"{docs:,} docs -> {cc_extra[docs]['cc_iterations']} rounds, "
            f"{cc_extra[docs]['cc_edges']:,} directed edges, "
            f"{cc_extra[docs]['cc_round_exchange_records']:,} records in the "
            "round exchange"
            for docs in cc_extra
        ),
        "",
    ]
    lines += _table(
        "## Paragraph dedup under boilerplate skew "
        "(one segment in 50% of docs, real q_dedup_paragraph)",
        para_results,
        unit_rows=False,
    )
    lines += [
        "",
        "Largest exchange, measured shuffleRecordsWritten (the "
        "(seg, doc_id) distinct expansion spreads the hot segment by "
        "doc_id — linear in corpus size, ~segments-per-corpus rows, "
        "never hot-doc-count squared): "
        + "; ".join(
            f"{docs:,} docs -> {para_extra[docs]['para_max_exchange_records']:,}"
            f" records across {para_extra[docs]['para_n_exchanges']} exchanges"
            for docs in para_extra
        ),
        "",
    ]
    lines += _table(
        "## Two-phase Pareto skyline (real q_skyline_pareto, r13)",
        sky_results,
        unit_rows=True,
    )
    lines += [
        "",
        "Phase-2 survivor flow, measured shuffleRecordsWritten on the "
        "smallest exchange (per-bucket local sweeps prune before the "
        "single-partition merge; bounded by buckets x distinct sizes, "
        "NOT fact rows): "
        + "; ".join(
            f"{rows:,} rows -> {sky_extra[rows]['skyline_phase2_rows']} "
            f"survivors into phase 2, "
            f"{sky_extra[rows]['skyline_frontier_rows']} on the frontier"
            for rows in sky_extra
        ),
        "",
    ]
    lines += _table(
        "## Time-weighted average (real q_time_weighted_avg, r13)",
        twa_results,
        unit_rows=True,
    )
    lines += [
        "",
        "Exchange audit (the lead() window and the per-user aggregate "
        "must share ONE user_id shuffle): "
        + "; ".join(
            f"{rows:,} rows -> {twa_extra[rows]['twa_n_exchanges']} "
            f"exchange(s), {twa_extra[rows]['twa_exchange_records']:,} "
            "records"
            for rows in twa_extra
        ),
        "",
        "heavy_hitters (r15) on the same events table — exchange audit "
        "(the fact-scale shuffle carries only partial-combined "
        "(day, type) counts, bounded by days x types x map "
        "partitions): "
        + "; ".join(
            f"{rows:,} rows -> {twa_extra[rows]['hh_n_exchanges']} "
            "exchanges / max "
            f"{twa_extra[rows]['hh_max_exchange_records']:,} records"
            for rows in twa_extra
        ),
        "",
    ]
    lines += _table(
        "## Exact MAD vs histogram median on one orders table "
        "(real q_mad_outliers / q_histogram_median, r14)",
        mad_results,
        unit_rows=True,
    )
    lines += [
        "",
        "mad_outliers_ckpt localCheckpoints the dev subtree instead of "
        "letting Catalyst re-derive it (the docstring's documented "
        "trade) — the wall gap above is the measured "
        "checkpoint-vs-rescan crossover.  Exchange audit (percentile "
        "partials buffer map-side, histogram counts partial-combine; "
        "neither ships raw fact rows): "
        + "; ".join(
            f"{rows:,} rows -> mad {mad_extra[rows]['mad_n_exchanges']} "
            f"exchanges / max {mad_extra[rows]['mad_max_exchange_records']:,}"
            f" records, histmed {mad_extra[rows]['histmed_n_exchanges']} "
            "exchanges / max "
            f"{mad_extra[rows]['histmed_max_exchange_records']:,} records"
            for rows in mad_extra
        ),
        "",
    ]
    lines += _table(
        "## Null-safe join, raw dim growing with the fact "
        "(real q_null_safe_join, r14)",
        ns_results,
        unit_rows=True,
    )
    lines += [
        "",
        "The dim side pre-aggregates to <=101 rows before the join, so "
        "the executed (post-AQE) join must stay a BroadcastHashJoin as "
        "the raw customer table grows (rows/4 here): "
        + "; ".join(
            f"{rows:,} rows -> broadcast="
            f"{bool(ns_extra[rows]['nullsafe_broadcast_join'])}, "
            f"{ns_extra[rows]['nullsafe_n_exchanges']} exchanges, max "
            f"{ns_extra[rows]['nullsafe_max_exchange_records']:,} records"
            for rows in ns_extra
        ),
        "",
        "histogram_percentile (r15) shares the bounded-histogram "
        "contract — one (group, bucket) histogram serves p25/p50/p75; "
        "exchange audit: "
        + "; ".join(
            f"{rows:,} rows -> {mad_extra[rows]['histpctl_n_exchanges']} "
            "exchanges / max "
            f"{mad_extra[rows]['histpctl_max_exchange_records']:,} records"
            for rows in mad_extra
        ),
        "",
        "exact_median_refine / exact_quartiles_refine (r15) — the "
        "two-pass EXACT path: the largest exchange is the pass-2 "
        "rank shuffle, which carries only the target-bucket prune "
        "survivors (~n_targets/n_buckets of the fact), never the "
        "whole table; the targets join must execute broadcast: "
        + "; ".join(
            f"{rows:,} rows -> exmed max "
            f"{mad_extra[rows]['exmed_max_exchange_records']:,} records "
            f"({mad_extra[rows]['exmed_n_exchanges']} exchanges, "
            f"broadcast={bool(mad_extra[rows]['exmed_broadcast_join'])}),"
            f" exquart max "
            f"{mad_extra[rows]['exquart_max_exchange_records']:,} "
            f"records ({mad_extra[rows]['exquart_n_exchanges']} "
            "exchanges, "
            f"broadcast={bool(mad_extra[rows]['exquart_broadcast_join'])}),"
            f" exwmed max "
            f"{mad_extra[rows]['exwmed_max_exchange_records']:,} "
            f"records ({mad_extra[rows]['exwmed_n_exchanges']} "
            "exchanges, "
            f"broadcast={bool(mad_extra[rows]['exwmed_broadcast_join'])})"
            for rows in mad_extra
        ),
        "",
    ]
    lines += _table(
        "## Grouped mode under an 80%-hot source "
        "(real q_group_mode, r15)",
        gm_results,
        unit_rows=False,
    )
    lines += [
        "",
        "Exchange audit (the fact-scale shuffle carries only "
        "partial-combined (source, lang) counts — bounded by sources "
        "x langs x map partitions, independent of corpus size and "
        "the hot source): "
        + "; ".join(
            f"{docs:,} docs -> {gm_extra[docs]['gmode_n_exchanges']} "
            "exchanges / max "
            f"{gm_extra[docs]['gmode_max_exchange_records']:,} records"
            for docs in gm_extra
        ),
        "",
    ]
    lines += _table(
        "## Streaming state family "
        "(real q_rocksdb_state_agg / q_joinstate_read / "
        "q_stream_full_outer_join, r15)",
        stream_results,
        unit_rows=True,
    )
    lines += [
        "",
        "State-size audit — state must track KEYS / the watermark "
        "horizon, never the full input (per-key distributed stores, "
        "8 state partitions, nothing on the driver): "
        + "; ".join(
            f"{rows:,} events -> agg state "
            f"{stream_extra[rows]['agg_state_keys']:,} keys "
            f"({rows // max(1, stream_extra[rows]['agg_state_keys'])} "
            "events/key collapsed), join state "
            f"{stream_extra[rows]['join_state_left_rows']:,}L/"
            f"{stream_extra[rows]['join_state_right_rows']:,}R rows "
            "surviving eviction ("
            f"{100.0 * (stream_extra[rows]['join_state_left_rows'] + stream_extra[rows]['join_state_right_rows']) / rows:.2f}"
            "% of input), full-outer emitted "
            f"{stream_extra[rows]['full_outer_rows']:,}"
            for rows in stream_extra
        )
        + "; streaming bounded histogram: "
        + "; ".join(
            f"{rows:,} events -> "
            f"{stream_extra[rows].get('hist_state_cells', -1):,} state "
            "cells (groups x buckets — value-range-bounded, flat in "
            "volume)"
            for rows in stream_extra
        ),
    ]
    lines += [""]
    lines += _table(
        "## TPC-DS-lite shapes (real q_tpcds_* builders; q47/q36/q51/q1 r16, q14/q67/q78/q58 r17)",
        tpcds_results,
        unit_rows=True,
    )
    lines += [
        "",
        "Exchange audit — the bounded-cell claims each shape's plan "
        "gate makes, verified empirically (min/max "
        "shuffleRecordsWritten per plan): "
        + "; ".join(
            f"{rows:,} rows -> "
            + ", ".join(
                f"{q}: {tpcds_extra[rows][f'{q}_n_exchanges']}x "
                f"[{tpcds_extra[rows][f'{q}_min_exchange_records']:,} "
                f".. {tpcds_extra[rows][f'{q}_max_exchange_records']:,}]"
                for q in ("q47", "q36", "q51", "q1",
                          "q14", "q67", "q78", "q58")
            )
            for rows in tpcds_extra
        ),
    ]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_PROBE.md"
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"fact": results, "docs": doc_results}))


if __name__ == "__main__":
    main()
