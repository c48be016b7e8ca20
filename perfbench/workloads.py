"""The benchmark's workloads and the traced run's layer probes.

Each workload is a closed loop with one client over a seeded,
pre-generated input: the next operation starts only when the previous
one has delivered. Every operation's output is checked exactly against
the expectation derived from the seed (``inputs.py``).
"""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass, field

import inputs
from inputs import CheckFailed
from probes import RssSampler, Spans, job_counter, median

# Sizes per run. ``tiny`` exists for the benchmark's own smoke tests.
SIZES = {
    "full": {"slot_tx": 20, "slot_warmup": 8, "backfill_tx": 2000,
             "backfill_files": 4, "backfill_warmup": 3,
             "dedup_batches": 4, "dedup_docs": 150, "dedup_compact": 3,
             "census_seconds": 8.0, "pipeline_rounds": 2},
    "tiny": {"slot_tx": 5, "slot_warmup": 1, "backfill_tx": 100,
             "backfill_files": 2, "backfill_warmup": 1,
             "dedup_batches": 3, "dedup_docs": 20, "dedup_compact": 2,
             "census_seconds": 1.0, "pipeline_rounds": 1},
}

# Generous input sizing: the stream should never run dry before the
# deadline (a trigger takes well over 250 ms on any host we know of).
MAX_SLOT_TRIGGERS_PER_S = 4


@dataclass
class Ctx:
    spark: object
    seed: int
    size: dict
    work: str
    spans: Spans
    t_session_start: float
    tamper: bool = False
    jobs: object = None
    backfill_idx: list | None = None    # template draw of the corpus

    def __post_init__(self):
        self.jobs = job_counter(self.spark)


@dataclass
class LoopResult:
    """Timed-phase outcome of one workload loop."""
    setup_s: float
    op_ms: list[float]
    traced_ms: list[float]
    untraced_ms: list[float]
    work_units: int
    timed_s: float
    attempted: int
    rss: RssSampler
    t_start: float
    t_end: float
    layer: dict = field(default_factory=dict)


def _maybe_tamper(ctx: Ctx, expected: dict) -> dict:
    """``--tamper`` shifts one expected count by one, so the check must
    fail (the benchmark's own tests use it)."""
    if not ctx.tamper or not expected:
        return expected
    key = sorted(expected, key=str)[0]
    cnt, chk = expected[key]
    return {**expected, key: (cnt + 1, chk)}


# -- slot_stream ---------------------------------------------------------

def slot_stream(ctx: Ctx, warmup: int, seconds: float) -> LoopResult:
    """Drain a seeded archive of one-slot parquet files through
    ``start_event_stream``; one operation is one trigger, timed from
    callback to callback."""
    from solana_event_stream_spark.sources.replay import \
        read_transaction_stream
    from solana_event_stream_spark.streaming.sink import start_event_stream

    templates = inputs.load_templates()
    parts = inputs.golden_by_template(templates)
    rng = random.Random(f"slot_stream:{ctx.seed}")
    n_files = warmup + int(seconds * MAX_SLOT_TRIGGERS_PER_S) + 4
    archive = os.path.join(ctx.work, "slot_archive")
    expected = []
    for i in range(n_files):
        idx = inputs.draw(rng, templates.num_rows, ctx.size["slot_tx"])
        slot = inputs.SLOT_BASE + i
        inputs.write_parquet(
            inputs.tx_table(templates, idx, f"s{slot}", slot),
            os.path.join(archive, f"slot_bucket={i}", "part-00000.parquet"),
            1_600_000_000 + i)
        expected.append(inputs.combine(parts, idx))

    deliveries: list[tuple[float, int, list]] = []
    stop = threading.Event()
    deadline = [None]

    def callback(rows):
        now = time.perf_counter()
        deliveries.append((now, ctx.jobs(), rows))
        k = len(deliveries)
        if k == warmup:
            deadline[0] = now + seconds
        elif (deadline[0] is not None and now >= deadline[0]) \
                or k == n_files:
            stop.set()

    checkpoint = os.path.join(ctx.work, "slot_checkpoint")
    with RssSampler() as rss:
        t_query = time.perf_counter()
        q = start_event_stream(
            read_transaction_stream(ctx.spark, archive,
                                    max_files_per_trigger=1),
            callback, checkpoint, bot_wallet=inputs.bot_wallet())
        while not stop.wait(0.05) and q.isActive:
            pass
        # Let the last delivered trigger commit and report its progress.
        give_up = time.perf_counter() + 10
        while q.isActive and time.perf_counter() < give_up and (
                q.lastProgress is None
                or q.lastProgress.batchId < len(deliveries) - 1):
            time.sleep(0.02)
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"slot_stream query failed: {q.exception()}")
    progress = {p.batchId: p for p in q.recentProgress}

    # Post-hoc exact check of every delivered trigger, warm-up included.
    for k, (_t, _j, rows) in enumerate(deliveries):
        want = expected[k]
        if k == 0:
            want = _maybe_tamper(ctx, want)
        bad_slots = {r["slot"] for r in rows} - {inputs.SLOT_BASE + k}
        if bad_slots:
            raise CheckFailed(f"slot_stream trigger {k}: rows from slots "
                              f"{sorted(bad_slots)} (expected one slot)")
        inputs.check_equal(f"slot_stream trigger {k}",
                           inputs.summarize_rows(rows), want)
    if len(deliveries) <= warmup:
        raise RuntimeError(f"slot_stream delivered {len(deliveries)} "
                           f"triggers, fewer than the {warmup} warm-up "
                           "ones")

    times = [t for t, _j, _r in deliveries]
    t_warm = times[warmup - 1] if warmup else t_query
    timed = range(warmup, len(deliveries))
    op_ms = [(times[k] - (times[k - 1] if k else t_query)) * 1e3
             for k in timed]
    traced, untraced = [], []
    for k, ms in zip(timed, op_ms):
        # Alternate traced and untraced triggers: only odd ones record
        # spans, so the tracing overhead reads as a same-run ratio.
        if ctx.spans.enabled and k % 2:
            traced.append(ms)
            _trigger_spans(ctx.spans, k, times[k] - ms / 1e3, times[k],
                           progress.get(k))
        else:
            untraced.append(ms)
    events = sum(len(deliveries[k][2]) for k in timed)
    jobs = [deliveries[k][1] - deliveries[k - 1][1] for k in timed if k]
    prog = [progress[k].durationMs for k in timed if k in progress]
    res = LoopResult(
        setup_s=t_warm - ctx.t_session_start, op_ms=op_ms,
        traced_ms=traced, untraced_ms=untraced, work_units=events,
        timed_s=times[-1] - t_warm, attempted=len(deliveries),
        rss=rss, t_start=t_warm, t_end=times[-1])
    if prog:
        res.layer = {
            "source.offset_ms": median([d["latestOffset"] for d in prog]),
            "source.get_batch_ms": median([d["getBatch"] for d in prog]),
            "source.files_listed": float(n_files),
            "stream.planning_ms": median([d["queryPlanning"]
                                          for d in prog]),
            "stream.commit_ms": median([d["walCommit"] + d["commitOffsets"]
                                        for d in prog]),
            "sink.add_batch_ms": median([d["addBatch"] for d in prog]),
            "sink.jobs_per_trigger": median(jobs) if jobs else 0.0,
            "sink.events_per_tx": events / (len(op_ms)
                                            * ctx.size["slot_tx"]),
        }
    return res


def _trigger_spans(spans: Spans, k: int, t0: float, t1: float,
                   prog) -> None:
    """One trigger span with the progress-reported phases as children,
    laid end to end in execution order."""
    parent = spans.add("slot_stream.trigger", t0, t1, op=k)
    if prog is None:
        return
    d = prog.durationMs
    at = t0
    for name, key in (("source.latestOffset", "latestOffset"),
                      ("source.getBatch", "getBatch"),
                      ("stream.queryPlanning", "queryPlanning"),
                      ("sink.addBatch", "addBatch"),
                      ("stream.walCommit", "walCommit"),
                      ("stream.commitOffsets", "commitOffsets")):
        dur = d.get(key, 0) / 1e3
        spans.add(name, at, at + dur, op=k, parent=parent)
        at += dur


# -- dex_backfill ------------------------------------------------------------

def _checksum_col():
    from pyspark.sql import functions as F
    return F.sum(F.expr(f"pmod(xxhash64({', '.join(inputs.CHECK_COLS)}), "
                        "1000000007)"))


def backfill_corpus(ctx: Ctx) -> tuple[str, list[int]]:
    """Seeded corpus of ``backfill_tx`` transactions in a few parquet
    files; returns its directory and the template draw."""
    corpus = os.path.join(ctx.work, "backfill_corpus")
    if ctx.backfill_idx is not None:
        return corpus, ctx.backfill_idx
    templates = inputs.load_templates()
    rng = random.Random(f"dex_backfill:{ctx.seed}")
    n_files = ctx.size["backfill_files"]
    per_file = ctx.size["backfill_tx"] // n_files
    idx_all: list[int] = []
    for f in range(n_files):
        idx = inputs.draw(rng, templates.num_rows, per_file)
        idx_all += idx
        inputs.write_parquet(
            inputs.tx_table(templates, idx, f"b{f}",
                            inputs.SLOT_BASE + 1_000_000 + f),
            os.path.join(corpus, f"part-{f:05d}.parquet"),
            1_600_000_000 + f)
    ctx.backfill_idx = idx_all
    return corpus, idx_all


def backfill_expected(ctx: Ctx, idx: list[int]) -> dict:
    """Expected per-type counts and xxhash64 checksum of a draw, from
    the golden events summarized per template by Spark (the checksum
    is Spark's xxhash64, so Spark computes the golden side too)."""
    from pyspark.sql import functions as F
    templates = inputs.load_templates()
    rows = (ctx.spark.read.parquet(inputs.GOLDEN)
            .groupBy("signature", "protocol", "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 _checksum_col().alias("c")).collect())
    by_sig: dict[str, dict] = {}
    for r in rows:
        by_sig.setdefault(r["signature"], {})[
            (r["protocol"], r["event_type"])] = (r["n"], r["c"])
    parts = [by_sig.get(s, {})
             for s in templates.column("signature").to_pylist()]
    return inputs.combine(parts, idx, modulus=None)


def backfill_pass(spark, corpus: str) -> dict:
    """One dex_backfill operation: the full decode + merge + enrich DAG
    over the corpus, ending in per-type counts and a payload
    checksum."""
    from pyspark.sql import functions as F
    from solana_event_stream_spark.plans.pipeline import (
        build_events, load_raw_transactions)
    events = build_events(load_raw_transactions(spark, corpus),
                          bot_wallet=inputs.bot_wallet())
    rows = (events.groupBy("protocol", "event_type")
            .agg(F.count(F.lit(1)).alias("n"), _checksum_col().alias("c"))
            .collect())
    return {(r["protocol"], r["event_type"]): (r["n"], r["c"])
            for r in rows}


def dex_backfill(ctx: Ctx, warmup: int, seconds: float) -> LoopResult:
    corpus, idx = backfill_corpus(ctx)
    with RssSampler() as rss:
        warm = []
        for k in range(warmup):
            with ctx.spans.span("dex_backfill.pass", op=k):
                warm.append(backfill_pass(ctx.spark, corpus))
        t_warm = time.perf_counter()
        expected = _maybe_tamper(ctx, backfill_expected(ctx, idx))
        for k, got in enumerate(warm):
            inputs.check_equal(f"dex_backfill pass {k}", got, expected)
        t_start = time.perf_counter()
        deadline = t_start + seconds
        op_ms, traced, untraced = [], [], []
        k = warmup
        while True:
            # Alternate traced and untraced passes (see slot_stream).
            traced_op = ctx.spans.enabled and k % 2
            spans = ctx.spans if traced_op else Spans(False)
            with spans.span("dex_backfill.pass", op=k) as s:
                got = backfill_pass(ctx.spark, corpus)
            inputs.check_equal(f"dex_backfill pass {k}", got, expected)
            ms = s.seconds * 1e3
            op_ms.append(ms)
            (traced if traced_op else untraced).append(ms)
            k += 1
            if s.end >= deadline:
                break
        t_end = s.end
    return LoopResult(
        setup_s=t_warm - ctx.t_session_start, op_ms=op_ms,
        traced_ms=traced, untraced_ms=untraced,
        work_units=len(op_ms) * len(idx), timed_s=t_end - t_start,
        attempted=len(op_ms) + warmup, rss=rss, t_start=t_start,
        t_end=t_end)


# -- layer probes of the traced run -----------------------------------------

def pipeline_layers(ctx: Ctx) -> dict:
    """Three timed public calls per round, each ending in a noop write:
    the JVM half, decode (core minus JVM half) and enrichment (full
    minus core)."""
    from solana_event_stream_spark.plans.pipeline import (
        build_decode_input, build_events, build_events_core,
        load_raw_transactions)
    corpus, _idx = backfill_corpus(ctx)
    bot = inputs.bot_wallet()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    jvm, core, full = [], [], []
    for r in range(ctx.size["pipeline_rounds"]):
        raw = load_raw_transactions(ctx.spark, corpus)
        with ctx.spans.span("pipeline.round", op=r):
            with ctx.spans.span("pipeline.build_decode_input", op=r) as a:
                noop(build_decode_input(raw))
            with ctx.spans.span("pipeline.build_events_core", op=r) as b:
                noop(build_events_core(raw))
            with ctx.spans.span("pipeline.build_events", op=r) as c:
                noop(build_events(raw, bot_wallet=bot))
        jvm.append(a.seconds * 1e3)
        core.append(b.seconds * 1e3)
        full.append(c.seconds * 1e3)
    return {"pipeline.jvm_half_ms": median(jvm),
            "pipeline.decode_ms": median(core) - median(jvm),
            "pipeline.enrich_ms": median(full) - median(core)}


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def dedup_layers(ctx: Ctx) -> dict:
    """A short ``start_dedup_maintenance_stream`` run (availableNow,
    one file per trigger, fixed ``compact_every``) over seeded documents
    with planted duplicates; survivors must be exactly the non-planted
    documents."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, load_maintained_corpus, open_dedup_index,
        start_dedup_maintenance_stream)
    size = ctx.size
    rng = random.Random(f"dedup_maintain:{ctx.seed}")
    batches, planted = inputs.dedup_batches(
        rng, size["dedup_batches"], size["dedup_docs"], dup_frac=0.2)
    base = os.path.join(ctx.work, "dedup")
    for i, rows in enumerate(batches):
        inputs.write_parquet(inputs.docs_table(rows),
                             os.path.join(base, "in", f"b{i:05d}.parquet"),
                             1_600_000_000 + i)
    corpus, index = os.path.join(base, "corpus"), os.path.join(base, "index")
    create_minhash_index(index)
    bytes0 = _du(corpus) + _du(index)
    jobs0 = ctx.jobs()
    stream = (ctx.spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(base, "in", "*")))
    with ctx.spans.span("dedup.stream"):
        q = start_dedup_maintenance_stream(
            stream, corpus, index, os.path.join(base, "checkpoint"),
            compact_every=size["dedup_compact"], available_now=True)
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"dedup stream failed: {q.exception()}")
    n_trig = len(batches)
    jobs = (ctx.jobs() - jobs0) / n_trig
    written = (_du(corpus) + _du(index) - bytes0) / n_trig
    prog = sorted(q.recentProgress, key=lambda p: p.batchId)
    ms = [p.durationMs["triggerExecution"] for p in prog]
    if len(ms) != n_trig:
        raise RuntimeError(f"dedup stream ran {len(ms)} triggers, "
                           f"expected {n_trig}")

    # Full-mode compaction folds the index when an append brings it to
    # compact_every batch dirs: triggers K, 2K-1, 3K-2, ... (1-based).
    every = size["dedup_compact"]
    n_dirs, compacting = 0, []
    for _ in range(n_trig):
        n_dirs += 1
        compacting.append(n_dirs >= every)
        if n_dirs >= every:
            n_dirs = 1
    if len(open_dedup_index(index)._batches) != n_dirs:
        raise RuntimeError("dedup index batch count does not match the "
                           "compaction schedule")
    # The first trigger is cold; it counts toward neither class.
    plain = [m for m, c in zip(ms[1:], compacting[1:]) if not c]
    compact = [m for m, c in zip(ms[1:], compacting[1:]) if c]

    kept = {r["doc_id"] for r in
            load_maintained_corpus(ctx.spark, corpus, index)
            .select("doc_id").collect()}
    generated = {d for rows in batches for d, _t in rows}
    want = generated - planted
    if ctx.tamper:
        want = want - {min(want)}
    if kept != want:
        raise CheckFailed(
            f"dedup survivors: {len(kept)} kept, expected {len(want)} "
            f"(= {len(generated)} generated - {len(planted)} planted); "
            f"wrongly dropped {sorted(want - kept)[:5]}, wrongly kept "
            f"{sorted(kept - want)[:5]}")
    return {"dedup.jobs_per_trigger": jobs,
            "dedup.bytes_written_per_trigger": written,
            "dedup.compact_trigger_ms": median(compact) if compact else
            float(max(ms)),
            "dedup.plain_trigger_ms": median(plain) if plain else
            float(min(ms)),
            "dedup.survivor_frac": len(kept) / len(generated)}


def local1_pass(ctx: Ctx, pass_ms_parallel: float, cpus: int) -> dict:
    """One dex_backfill pass at local[1] (after one warm-up pass on the
    new context): the single-threaded baseline and the parallel
    efficiency of the local[N] pass. Restarts the session, so it runs
    last."""
    from solana_event_stream_spark.session import get_spark
    corpus, _idx = backfill_corpus(ctx)
    ctx.spark.stop()
    spark = get_spark("perfbench-local1", master="local[1]")
    ms = []
    for k in range(2):
        with ctx.spans.span("backfill.local1_pass", op=k) as s:
            backfill_pass(spark, corpus)
        ms.append(s.seconds * 1e3)
    ctx.spark = spark
    return {"backfill.local1_pass_ms": ms[-1],
            "backfill.parallel_efficiency":
                ms[-1] / (cpus * pass_ms_parallel)}
