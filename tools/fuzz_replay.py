"""Chunked-replay fuzz family (r16 verdict #3 follow-on): randomized
chunk counts x watermark delays x replay ORDER over the streaming
pipelines, against the single-giant-batch baseline.

What a case asserts depends on the (pipeline, order) draw:

- ORDERED chunks (event-time-ordered files, maxFilesPerTrigger=1):
  the emitted row MULTISET must equal the single-batch baseline for
  EVERY pipeline — the equivalence the r16 sweep measured at 10M and
  tests/test_streaming.py pins at fixed parameters; here both k and
  the watermark delay are randomized.
- DISORDERED chunks (the max-event-time chunk replayed FIRST, short
  watermark): the watermark jumps to near the global max after batch
  one, so every later chunk arrives below it — the case asserts the
  FAILURE MODE, not the happy path:
    * join_fullouter: strictly fewer TOTAL rows (late rows on both
      sides are dropped at ingestion and never emit, matched or
      null-extended; MATCHED counts alone can survive when the few
      matches cluster inside the max chunk — seed 163003 showed
      exactly that vacuity, so the assertion is on totals);
    * dedup: strictly fewer emitted rows (late keys dropped);
    * session (r17 second wave): strictly fewer surviving EVENTS
      (sum of n_events) — session ROW counts can move either way
      because a dropped bridging event splits a merged session;
    * hist_pctl: EQUALITY — the bounded-histogram state op carries no
      watermark (counters are order-invariant by design), so even
      disordered replay must reproduce the single-batch percentiles.
  join_inner is excluded from the negative pool: its output at the
  fixture is ~2 matched pairs, too sparse to witness drops reliably
  (it stays in the ordered pool).

EMPIRICAL FACT this tool surfaced (instrumented via
numRowsDroppedByWatermark, k=2 vs k=3 max-first): the stateful
operators' LATE-INPUT FILTER lags the displayed watermark by ONE
batch — batch N's input is filtered with the watermark as of batch
N-1's START, so the batch immediately after the watermark-advancing
chunk is processed in full (lateDropped=0 even though every row sits
below the displayed watermark) and drops begin at the SECOND
post-advance batch.  Consequence: a 2-chunk disordered replay never
drops anything (its output EQUALS the baseline), so negative cases
draw k >= 3; the k=2 no-drop behavior is pinned as its own expected
outcome in tests/test_streaming.py.

Chunk fixtures are the replay module's own builders
(`ordered_event_chunks`, `chunked_events_source` — the registered
code path, not a test-only copy); single-batch baselines and chunk
dirs are cached across cases.

Usage: python tools/fuzz_replay.py [--n N] [--seed-base B]
       [--sf DIR] [--mode mixed|ordered|negative]
Seeds are recorded in the fuzz_seams LEDGER under family
"chunkreplay".
"""

from __future__ import annotations

import argparse
import glob
import os
import random
import shutil
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WATERMARKS = ["10 minutes", "30 minutes", "1 hour", "3 hours"]
CHUNK_COUNTS = [2, 3, 5, 8, 12]
PIPELINES = ["join_inner", "join_fullouter", "dedup", "hist_pctl", "session"]
NEG_PIPELINES = ["join_fullouter", "dedup", "hist_pctl", "session"]
# disordered flavors need the watermark well under a chunk's time
# span so the late-drop is guaranteed by input-level dropping, and
# k >= 3 because the late-input filter lags the watermark by one
# batch (see module docstring) — a 2-chunk disorder never drops
NEG_CHUNK_COUNTS = [3, 5, 8, 12]
NEG_WATERMARK = "10 minutes"
# equal-mtime tie pool (r18): pipelines with a SOUND monotone bound
# under an arbitrary replay scramble.  join_fullouter is excluded —
# a pair split across an eviction boundary can emit TWO null-extended
# rows where the baseline emitted one joined row, so total rows can
# move EITHER way under ties (unlike the max-first negative, where
# the drop dominates by construction).
TIE_PIPELINES = ["dedup", "hist_pctl", "session"]


def _build_pipeline(spark, sf_dir: str, name: str, watermark: str, source):
    from pyspark.sql import functions as F

    from dpu_olap_spark.sources.tables import load_events_stream
    from dpu_olap_spark.streaming.stateful import streaming_bucket_counts
    from dpu_olap_spark.streaming.windows import interval_join_pipeline

    if name == "join_inner":
        return interval_join_pipeline(
            spark, sf_dir, how="inner", watermark=watermark, source=source
        ), "append"
    if name == "join_fullouter":
        return interval_join_pipeline(
            spark, sf_dir, how="fullOuter", watermark=watermark, source=source
        ), "append"
    if name == "dedup":
        s = source() if source is not None else load_events_stream(spark, sf_dir)
        doubled = s.unionAll(
            source() if source is not None else load_events_stream(spark, sf_dir)
        )
        return (
            doubled.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "event_type", "user_id"),
            "append",
        )
    if name == "hist_pctl":
        s = source() if source is not None else load_events_stream(spark, sf_dir)
        return streaming_bucket_counts(s), "update"
    if name == "session":
        s = source() if source is not None else load_events_stream(spark, sf_dir)
        return (
            s.withWatermark("ts", watermark)
            .groupBy(
                F.session_window("ts", "30 minutes").alias("sw"),
                F.col("user_id"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("sw.start").alias("sess_start"),
                F.col("sw.end").alias("sess_end"),
                "n_events",
            ),
            "append",
        )
    raise ValueError(name)


def _finalize(name: str, df) -> Counter:
    from dpu_olap_spark.streaming.stateful import finalize_histogram_percentiles

    if name == "hist_pctl":
        df = finalize_histogram_percentiles(df)
    return Counter(tuple(r) for r in df.collect())


def _run(spark, sf_dir: str, name: str, watermark: str, source) -> Counter:
    from dpu_olap_spark.sources.tables import run_to_memory_sink

    df, mode = _build_pipeline(spark, sf_dir, name, watermark, source)
    return _finalize(
        name, run_to_memory_sink(df, f"fr_{name}", mode, state_partitions=8)
    )


def _disordered_dir(ordered_dir: str, scratch: str) -> str:
    """Copy the ordered chunks with the LAST (max event time) chunk
    given the EARLIEST mtime, so it replays first and drags the
    watermark past every other chunk."""
    dst = os.path.join(scratch, os.path.basename(ordered_dir) + "_maxfirst")
    if os.path.isdir(dst) and glob.glob(os.path.join(dst, "chunk_*.parquet")):
        return dst
    os.makedirs(dst, exist_ok=True)
    parts = sorted(glob.glob(os.path.join(ordered_dir, "chunk_*.parquet")))
    order = [parts[-1]] + parts[:-1]
    now = time.time() - 10_000
    for i, src in enumerate(order):
        tgt = os.path.join(dst, os.path.basename(src))
        shutil.copy(src, tgt)
        os.utime(tgt, (now + i, now + i))
    return dst


def _tied_dir(ordered_dir: str, scratch: str, reverse: bool) -> str:
    """Duplicate-mtime flavor (r17 verdict #5 corner): EVERY chunk
    file gets the SAME mtime, so replay order falls entirely to the
    tie-break.  EMPIRICAL FACT (r18 fuzz catch, pinned in
    tests/test_streaming.py): the tie-break is NOT path order — it is
    the directory LISTING order, which is only coincidentally sorted
    for small chunk counts (k<=3 replayed in event order here; k>=5
    scrambled and dropped 20-83% of a dedup's rows with the ORIGINAL
    lexicographic names).  Equal-mtime replay order is therefore
    UNSPECIFIED: a tie case can only assert the monotone bound
    (watermarked pipelines lose rows, never gain) plus exact equality
    for the watermark-free histogram op.  This is exactly why
    ordered_event_chunks stamps STRICTLY INCREASING mtimes.
    reverse=True additionally remaps names so even a path-sorted
    listing would replay max-first."""
    tag = "_tierev" if reverse else "_tie"
    dst = os.path.join(scratch, os.path.basename(ordered_dir) + tag)
    if os.path.isdir(dst) and glob.glob(os.path.join(dst, "chunk_*.parquet")):
        return dst
    os.makedirs(dst, exist_ok=True)
    parts = sorted(glob.glob(os.path.join(ordered_dir, "chunk_*.parquet")))
    now = time.time() - 10_000
    for i, src in enumerate(parts):
        name = (f"chunk_{len(parts) - 1 - i:04d}.parquet"
                if reverse else os.path.basename(src))
        tgt = os.path.join(dst, name)
        shutil.copy(src, tgt)
        os.utime(tgt, (now, now))  # ONE shared mtime: pure tie
    return dst


def run_case(spark, seed: int, sf_dir: str, scratch: str,
             baselines: dict, chunk_dirs: dict,
             force_order: str | None = None) -> str:
    """One fuzz case; returns a one-line description, raises
    AssertionError on divergence from the case's expectation."""
    from dpu_olap_spark.sources.tables import raw_schema
    from dpu_olap_spark.streaming.replay import (
        chunked_events_source,
        ordered_event_chunks,
    )

    rng = random.Random(seed)
    if force_order is not None:
        flavor = force_order
    else:
        draw = rng.random()
        # 60% ordered, 20% max-first negative, 20% equal-mtime ties
        # (replay order UNSPECIFIED — the r18 catch: the tie-break is
        # directory listing order, not path order)
        flavor = ("negative" if draw < 0.2
                  else "tie" if draw < 0.3
                  else "tie_reversed" if draw < 0.4
                  else "ordered")
    tie = flavor in ("tie", "tie_reversed")
    disordered = flavor == "negative"
    name = rng.choice(
        TIE_PIPELINES if tie
        else NEG_PIPELINES if disordered
        else PIPELINES
    )
    k = rng.choice(NEG_CHUNK_COUNTS if (disordered or tie) else CHUNK_COUNTS)
    watermark = NEG_WATERMARK if disordered else rng.choice(WATERMARKS)

    bkey = (name, watermark)
    if bkey not in baselines:
        baselines[bkey] = _run(spark, sf_dir, name, watermark, None)
    single = baselines[bkey]

    events = os.path.join(sf_dir, "events.parquet")
    if k not in chunk_dirs:
        chunk_dirs[k] = ordered_event_chunks(
            spark, events, os.path.join(scratch, f"k{k}"), k,
        )
    if flavor == "negative":
        cdir = _disordered_dir(chunk_dirs[k], scratch)
    elif flavor == "tie":
        cdir = _tied_dir(chunk_dirs[k], scratch, reverse=False)
    elif flavor == "tie_reversed":
        cdir = _tied_dir(chunk_dirs[k], scratch, reverse=True)
    else:
        cdir = chunk_dirs[k]
    got = _run(spark, sf_dir, name, watermark,
               chunked_events_source(spark, cdir, raw_schema(spark, events)))

    label = (f"{name} k={k} wm={watermark!r} {flavor.upper()}")
    if name == "hist_pctl":
        # watermark-free, order-invariant: exact equality under ANY
        # replay order, ties included
        assert got == single and sum(single.values()) > 0, (
            f"{label}: {sum(got.values())} rows vs baseline "
            f"{sum(single.values())}"
        )
        return f"{label}: OK rows={sum(got.values())}"
    if tie:
        # equal-mtime replay order is UNSPECIFIED (the r18 catch) —
        # the only sound invariant for watermarked pipelines is the
        # monotone bound: late drops LOSE rows/events, never invent
        if name == "session":
            ev = lambda c: sum(row[3] * n for row, n in c.items())  # noqa: E731
            assert 0 < ev(got) <= ev(single), (
                f"{label}: event total {ev(got)} vs {ev(single)}"
            )
            return f"{label}: OK tie-bound events {ev(single)}->{ev(got)}"
        assert 0 < sum(got.values()) <= sum(single.values()), (
            f"{label}: rows {sum(got.values())} vs {sum(single.values())}"
        )
        return (f"{label}: OK tie-bound rows "
                f"{sum(single.values())}->{sum(got.values())}")
    if not disordered:
        assert got == single and sum(single.values()) > 0, (
            f"{label}: {sum(got.values())} rows vs baseline "
            f"{sum(single.values())}"
        )
        return f"{label}: OK rows={sum(got.values())}"
    if name == "session":
        # dropped events can SPLIT sessions (a bridging event lost),
        # so ROW count may move either way — the robust invariant is
        # the surviving-EVENT total (sum of n_events), which strictly
        # shrinks when any input is late-dropped
        ev = lambda c: sum(row[3] * n for row, n in c.items())  # noqa: E731
        assert ev(got) < ev(single), (
            f"{label}: event total did not drop "
            f"({ev(got)} vs {ev(single)})"
        )
        return (f"{label}: OK late-drop events "
                f"{ev(single)}->{ev(got)}")
    assert sum(got.values()) < sum(single.values()), (
        f"{label}: rows did not drop "
        f"({sum(got.values())} vs {sum(single.values())})"
    )
    return (f"{label}: OK late-drop rows "
            f"{sum(single.values())}->{sum(got.values())}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=100)
    ap.add_argument("--seed-base", type=int, default=0)
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--mode",
                    choices=["mixed", "ordered", "negative", "tie"],
                    default="mixed")
    args = ap.parse_args()

    import tempfile

    from dpu_olap_spark.session import get_spark, tune

    spark = get_spark("fuzz-replay")
    tune(spark)
    spark.sparkContext.setLogLevel("ERROR")

    force = {"mixed": None, "tie": None, "negative": "negative",
             "ordered": "ordered_only"}[args.mode]
    baselines: dict = {}
    chunk_dirs: dict = {}
    failures = 0
    with tempfile.TemporaryDirectory(prefix="fuzz_replay_") as scratch:
        for seed in range(args.seed_base, args.seed_base + args.n):
            try:
                forced = ("negative" if force == "negative" else None)
                if force == "ordered_only":
                    # re-draw until the case is ordered: force via a
                    # wrapper that never flips the 20% coin
                    forced = "ordered"
                elif args.mode == "tie":
                    # all-tie campaign: alternate the equal-mtime
                    # equivalence flavor and the reversed-name
                    # tie-break-disorder flavor
                    forced = "tie" if seed % 2 == 0 else "tie_reversed"
                msg = run_case(spark, seed, args.sf, scratch,
                               baselines, chunk_dirs,
                               force_order=forced)
                print(f"seed {seed}: {msg}", flush=True)
            except AssertionError as e:
                failures += 1
                print(f"seed {seed}: DIVERGE {e}", flush=True)
            except Exception as e:  # noqa: BLE001 - report and continue
                failures += 1
                print(f"seed {seed}: ERROR {type(e).__name__}: {e}",
                      flush=True)
    print(f"\n{args.n} cases, {failures} divergences/errors")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
