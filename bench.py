#!/usr/bin/env python
"""Benchmark harness (driver contract): prints ONE JSON line.

Headline metric: sustained CDC apply throughput — a deterministic change
feed (hot-conversation skew, deletes, rev chains) replayed through the
real engine (Structured Streaming availableNow → foreachBatch → LWW dedup
→ bucketed MERGE → snapshot commit + lineage) at
``local[$SPARK_GRAFT_CPUS]``. Also times the headline queries from
``__spark_entry__`` at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1).

Scaling evidence (BASELINE.json north_rule: efficiency >= 0.8 from N to
4N executors): ``--scaling`` reruns the identical replay at
``local[N]`` and ``local[4N]`` (default N=2). N=2 because this sandbox's
32 "CPUs" deliver only ~19 effective parallel cores (measured: 32 spinning
workers achieve 19.2x one worker), capping ANY program's 8->32 efficiency
at ~0.59; 2->8 has a 0.96 hardware ceiling, so it isolates the engine's
scaling from the host's oversubscription. Each level runs two replay
passes in one JVM and reports the second (sustained, JIT/worker-warm), the
standard steady-state methodology. Results -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# all driver-contract queries are timed (round 1 timed only a headline 12);
# ordering keeps the cheap probes first so a regression in a heavy query
# doesn't hide behind warmup
PRIOR_BENCH_GLOB = "BENCH_r*.json"
# every local run persists its full JSON here (the driver's BENCH_r*.json
# capture is a 2000-char tail that can truncate to parsed=null — r4 did —
# which silently disabled the old gate); the local record is authoritative
LOCAL_BENCH_GLOB = os.path.join("BENCH", "BENCH_local_*.json")
REGRESSION_FACTOR = 1.5
# a ratio alone over-flags sub-second probes (a 0.1s -> 0.18s wobble is
# scheduler noise, not a plan regression): require an absolute delta too
REGRESSION_MIN_DELTA_SEC = 0.5


def _workdir_base() -> str | None:
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def _spark(cpus: int):
    from couch_to_mongo_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if _workdir_base():
        d = os.path.join(_workdir_base(), "c2m-bench-sparklocal")
        os.makedirs(d, exist_ok=True)
        extra["spark.local.dir"] = d
    return get_spark(f"bench-{cpus}", cpus=cpus, extra_conf=extra)


def _gen_feed(spark, feed: str, n_events: int, n_files: int) -> None:
    if n_events > 500_000:
        from couch_to_mongo_spark.gen_spark import write_spark_changes

        write_spark_changes(
            spark, feed, n_events=n_events, n_files=n_files,
            n_convs=max(n_events // 100, 50),
        )
    else:
        from couch_to_mongo_spark.gen import generate_changes

        generate_changes(
            feed, n_events=n_events, n_convs=max(n_events // 100, 50),
            seed=42, n_files=n_files, hot_frac=0.2, delete_frac=0.02,
        )


def _replay_once(spark, feed: str, work: str, n_buckets: int, mfpt: int,
                 with_view: bool = False):
    from couch_to_mongo_spark.streaming.cdc import CdcPipeline

    view_kw = {}
    if with_view:
        # deferred maintenance (r6): the view catches up from the
        # primary's per-file _seq bounds every 4 batches + at end of run,
        # so render latency stays off the per-batch critical path
        view_kw = dict(
            maintain_view=os.path.join(work, "view"), view_refresh_every=4
        )
    pipe = CdcPipeline(
        spark,
        table_path=os.path.join(work, "tbl"),
        changes_dir=feed,
        checkpoint_dir=os.path.join(work, "ckpt"),
        n_buckets=n_buckets,
        max_files_per_trigger=mfpt,
        **view_kw,
    )
    t0 = time.time()
    pipe.run_available()
    return time.time() - t0


def run_cdc_bench(
    spark, n_events: int, n_files: int, n_buckets: int, base_dir: str,
    passes: int = 2, mfpt: int = 4, feed: str | None = None,
    with_view: bool = False,
):
    """Replay `passes` times (fresh table/checkpoint each); the sustained
    number is the MIN pass wall: this host randomly throttles processes
    for multi-second stretches (a pure-memcpy probe measured 0.0 GB/s and
    41 GB/s in back-to-back identical runs), so min-over-repeats is the
    standard noise rejection — any single pass (even a warm one) can eat a
    several-hundred-percent stall."""
    import shutil

    if feed is None:
        feed = os.path.join(base_dir, "changes")
        _gen_feed(spark, feed, n_events, n_files)
    walls = []
    for p in range(passes):
        work = os.path.join(base_dir, f"pass{p}")
        walls.append(round(
            _replay_once(spark, feed, work, n_buckets, mfpt, with_view=with_view),
            2,
        ))
        shutil.rmtree(work, ignore_errors=True)
    return walls, n_events / min(walls)


def run_view_incremental_bench(
    spark, base_dir: str, n_events: int = 500_000, n_files: int = 8,
    n_buckets: int = 32, tail_events: int = 5_000,
    tail_convs: int = 50, tail_batches: int = 4,
) -> dict:
    """The corpus view's O(changed) claim measured where it applies:
    STEADY-STATE incremental maintenance, not the cold build (the
    cdc_view block's vs_plain ratio includes a one-time O(corpus) initial
    render — every conversation must be rendered at least once, so that
    ratio can never be small on a fresh table). Build table(+view) from
    the base feed untimed, then time ONE stream run over 4 small tail
    batches each touching ~1% of the conversations (5k events over 50 of
    5000 convs, seqs continuing past the base). Variants: plain (no
    view), view (per-batch refresh), view_deferred (view_refresh_every=4
    — one catch-up per 4 batches, the amortized mode). At this batch
    size BOTH sides are fixed-overhead-dominated (a micro-batch is ~1 s
    of trigger+commit latency), so the honest numbers are the absolute
    per-batch maintenance overheads, reported alongside the ratios."""
    from couch_to_mongo_spark.gen import make_changes_df, write_change_files
    from couch_to_mongo_spark.streaming.cdc import CdcPipeline

    out = {}
    for variant in ("plain", "view", "view_deferred"):
        feed = os.path.join(base_dir, f"feed_{variant}")
        _gen_feed(spark, feed, n_events, n_files)  # same seed -> same feed
        work = os.path.join(base_dir, variant)
        kw = {}
        if variant == "view":
            kw = dict(maintain_view=os.path.join(work, "view"))
        elif variant == "view_deferred":
            kw = dict(
                maintain_view=os.path.join(work, "view"), view_refresh_every=4
            )
        pipe = CdcPipeline(
            spark,
            table_path=os.path.join(work, "tbl"),
            changes_dir=feed,
            checkpoint_dir=os.path.join(work, "ckpt"),
            n_buckets=n_buckets,
            max_files_per_trigger=1,
            **kw,
        )
        pipe.run_available()  # cold build + initial view render: untimed
        for t in range(tail_batches):
            tail = make_changes_df(
                n_events=tail_events, n_convs=tail_convs, seed=7 + t,
                seq_start=n_events + t * tail_events,
            )
            write_change_files(feed, tail, n_files=1, start_index=n_files + t)
        t0 = time.time()
        pipe.run_available()  # mfpt=1: the 4 tail files replay as 4 batches
        out[variant] = {
            "tail_wall_sec": round(time.time() - t0, 3),
            "per_batch_sec": round((time.time() - t0) / tail_batches, 3),
        }
    out["tail_events_per_batch"] = tail_events
    out["tail_batches"] = tail_batches
    out["tail_convs_frac"] = tail_convs / max(n_events // 100, 50)
    plain = out["plain"]["tail_wall_sec"]
    for v in ("view", "view_deferred"):
        out[v]["vs_plain"] = round(out[v]["tail_wall_sec"] / plain, 3)
        out[v]["overhead_per_batch_sec"] = round(
            (out[v]["tail_wall_sec"] - plain) / tail_batches, 3
        )
    return out


def run_query_bench(spark, sf_dir: str, passes: int = 2) -> dict[str, float]:
    """Time EVERY driver-contract query at sf_dir (noop sink: full execution,
    no collect). Each query runs `passes` times and reports the MIN — the
    host's random multi-second throttling storms (see BENCH/BASELINE.md)
    otherwise hit a contiguous window of single-shot timings and surface as
    phantom 2-6x 'regressions' in the round-over-round gate."""
    import __spark_entry__ as E

    out = {}
    for name, fn in E.queries().items():
        best = None
        for _ in range(max(passes, 1)):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            best = wall if best is None else min(best, wall)
        out[name] = round(best, 3)
    return out


# headline queries re-timed at the sf1 tier (10x sf0.1, generated on
# demand into tmpfs by couch_to_mongo_spark/gen_sf.py): at sf0.1 most
# queries are fixed-overhead-dominated, so sf1 carries the real
# round-over-round perf signal for the data-heavy operators
SF1_HEADLINE = [
    "cdc_fold", "dedup_exact", "doc_fingerprint", "minhash_lsh_buckets",
    "simhash", "ngram_jaccard_pairs", "ngram_jaccard_capped",
    "dedup_groups", "lsh_dedup_groups", "simhash_pairs", "pq_train_encode",
    "q1_pricing", "q3_shipping", "engine_replay",
    # vector family at 10x (r4: sf1 embeddings are now generated fresh —
    # 10x count, clustered, planted near-dups — instead of copied from
    # sf0.1, so these times are NOT comparable to rounds <= 3)
    "neardup_cosine", "neardup_cosine_blas", "embedding_dedup_groups",
    "embedding_dedup_groups_lsh", "ivf_train_assign",
    # r5 transcript family at 10x events: conversation fold + the full
    # fold->render->pack chain
    "render_conversations", "conversation_pack",
    # r6: the r5 operators that previously had no scale datapoint (the
    # two decontamination outliers got a 10x fix this round — sf1 keeps
    # them honest), plus the new image dedup; decontaminate is included
    # as the verdict-only contrast for the spans/mask pair
    "decontaminate", "decontaminate_spans", "mask_contaminated",
    "pack_sequences", "token_budget_sample", "corpus_view_replay",
    "image_dedup_groups", "audio_dedup_groups",
    # the composed curation flagship — previously the most expensive
    # sf0.1 query with no scale datapoint
    "curate_corpus",
    # fold -> render -> LSH dedup over rendered conversations
    "conversation_dedup",
    # r6 late additions: PII scrub (pure codegen scan) + corpus-LM score
    "mask_pii", "unigram_logprob",
]
# the expression-join exact pair baseline costs ~2 min at sf1 (which is
# the point — neardup_cosine_blas is the same pairs at ~1 s); one pass
SF1_SINGLE_PASS = {"neardup_cosine"}


def _sf1_overrides():
    """Scale-sized variants for sf1. The former embedding_dedup_groups_lsh
    override (12 planes for the 20k-vector tier, vs the contract's 8) is
    GONE: the operator now sizes its signature to the corpus itself
    (vectors.derive_n_planes — 12 planes at 20k, 6 at 500), so the sf1
    bench runs the plain contract query."""
    from couch_to_mongo_spark.functions import vectors as V

    def neardup_blas_sf1(spark, sf_dir):
        # same exact pairs as neardup_cosine (parity-tested), BLAS-blocked
        # gram matrix instead of the per-pair HOF join — the measured
        # contrast between the two formulations of the exact baseline
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return V.neardup_pairs_by_label_blas(emb, threshold=0.3)

    def emb_groups_sf1(spark, sf_dir):
        # exact groups with the BLAS pair stage (identical pairs,
        # parity-tested); the expression-join form of the same closure
        # measured 319 s at sf1 — the HOF-per-pair cost the BLAS kernel
        # removes (0.8 s); remaining cost is the components fixpoint over
        # the ~1.5M noise-tail edges the 0.3 threshold admits at 20k rows
        from couch_to_mongo_spark.operators.components import (
            attach_components,
            connected_components,
        )

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        pairs = V.neardup_pairs_by_label_blas(emb, threshold=0.3)
        comp = connected_components(pairs, src="id_a", dst="id_b")
        return attach_components(emb, comp, id_col="vec_id", out_col="group_id")

    return {
        "neardup_cosine_blas": neardup_blas_sf1,
        "embedding_dedup_groups": emb_groups_sf1,
    }


def run_sf1_bench(spark, sf1_dir: str) -> dict:
    import __spark_entry__ as E

    from couch_to_mongo_spark.gen_sf import generate_sf

    generate_sf(dst_dir=sf1_dir)
    qs = {**E.queries(), **_sf1_overrides()}
    out = {}
    for name in SF1_HEADLINE:
        best = None
        passes = 1 if name in SF1_SINGLE_PASS else 2
        for _ in range(passes):
            t0 = time.time()
            qs[name](spark, sf1_dir).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            best = wall if best is None else min(best, wall)
        out[name] = round(best, 3)

    # trained-IVF recall on the CLUSTERED 20k-vector tier — the quality
    # number the structureless sf0.1 fixture cannot produce (no vector
    # there has true near neighbors): sampled Lloyd training, nprobe=4
    # of 32 lists => scan ~1/8 of the corpus
    from couch_to_mongo_spark.functions import vectors as V

    emb = spark.read.parquet(os.path.join(sf1_dir, "embeddings.parquet"))
    cents = V.kmeans_train(emb, k=32, n_iters=3, sample_frac=0.25)
    out["ivf_recall_at_10_k32_nprobe4"] = round(
        V.ivf_recall_at_k(emb, k=10, n_queries=20, n_centroids=32, nprobe=4,
                          centroids=cents),
        3,
    )
    return out


def run_ann_recall(spark, sf_dir: str) -> dict:
    """Recall evidence for the ANN scale path (VERDICT r01 next-#9): planted
    near-duplicate recall@1 per probe count, plus the top-k-among-noise
    number for honesty (intrinsically low on this fixture — see
    vectors.planted_neardup_recall docstring)."""
    from couch_to_mongo_spark.functions import vectors as V

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = {"planted_neardup_recall_at_1": {}, "noise_topk_recall_at_10": {}}
    for probes in (0, 1, 2):
        out["planted_neardup_recall_at_1"][f"probes{probes}"] = round(
            V.planted_neardup_recall(emb, n_queries=40, probes=probes), 3
        )
    out["noise_topk_recall_at_10"]["probes2"] = round(
        V.ann_recall_at_k(emb, k=10, n_queries=20, probes=2), 3
    )
    return out


def _prior_query_mins(key: str, sf1_fixture: int | None = None) -> tuple[dict, list[str]]:
    """Per-query MIN across EVERY parseable prior record — driver tails
    (BENCH_r*.json) plus the full local records (BENCH/BENCH_local_*.json).

    Gating against one round's numbers ratchets: a host-storm-inflated
    round becomes the next round's baseline and real regressions hide
    behind it (the r4 verdict's finding #2). The per-query min across all
    history is storm-immune — a storm can only raise a round's numbers,
    never lower them. Unusable priors (truncated driver capture, JSON
    rot) are returned in ``skipped`` so the caller surfaces them LOUDLY
    instead of silently gating against nothing. sf1 blocks are keyed by
    the generator fixture version (gen_sf.GEN_VERSION): a regenerated
    tier (r4 re-made the embeddings clustered) is a different workload,
    so records without a matching ``sf1_fixture`` tag don't contribute
    sf1 baselines."""
    import glob as _glob

    baselines: dict[str, float] = {}
    skipped: list[str] = []
    for p in sorted(_glob.glob(PRIOR_BENCH_GLOB)) + sorted(_glob.glob(LOCAL_BENCH_GLOB)):
        name = os.path.basename(p)
        try:
            with open(p) as fh:
                rec = json.load(fh)
            if "parsed" in rec and rec["parsed"] is None:
                skipped.append(f"{name} (driver tail truncated: parsed=null)")
                continue
            body = rec.get("parsed") or rec
            q = body.get(key)
            if q is None:
                continue  # record predates this block — not an error
            if key == "queries_sf1" and body.get("sf1_fixture") != sf1_fixture:
                skipped.append(
                    f"{name} (sf1 fixture {body.get('sf1_fixture')!r}"
                    f" != current {sf1_fixture!r})"
                )
                continue
            for qname, t in q.items():
                if isinstance(t, (int, float)) and t > 0:
                    baselines[qname] = min(float(t), baselines.get(qname, float("inf")))
        except Exception as exc:
            skipped.append(f"{name} ({type(exc).__name__}: {exc})")
    return baselines, skipped


def check_regressions(
    queries: dict[str, float], key: str = "queries", sf1_fixture: int | None = None
) -> dict:
    """Flag any query slower than REGRESSION_FACTOR x its best-ever prior
    time (see :func:`_prior_query_mins`). Informational (the sandbox has
    multi-minute interference storms; see BENCH/BASELINE.md) — flags
    demand an exclusive re-run before believing them."""
    prior_q, skipped = _prior_query_mins(key, sf1_fixture)
    out: dict = {}
    if skipped:
        out["skipped_priors"] = skipped
    if not prior_q:
        return out
    regressions = {
        name: {"prior": prior_q[name], "now": t, "ratio": round(t / prior_q[name], 2)}
        for name, t in queries.items()
        if name in prior_q
        and t > REGRESSION_FACTOR * prior_q[name]
        and t - prior_q[name] > REGRESSION_MIN_DELTA_SEC
    }
    if regressions:
        out.update({"vs": "min-across-prior-records", "flagged": regressions})
    return out


def persist_local_record(result: dict) -> str:
    """Write the complete bench JSON to BENCH/BENCH_local_NNN.json so the
    repo's own record never depends on the driver's 2000-char tail
    capture (which truncated r4's to parsed=null)."""
    import glob as _glob

    os.makedirs("BENCH", exist_ok=True)
    n = len(_glob.glob(LOCAL_BENCH_GLOB)) + 1
    path = os.path.join("BENCH", f"BENCH_local_{n:03d}.json")
    while os.path.exists(path):  # racer/gap tolerance
        n += 1
        path = os.path.join("BENCH", f"BENCH_local_{n:03d}.json")
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1)
    return path


def cdc_only(cpus: int, n_events: int, n_files: int, n_buckets: int,
             passes: int, mfpt: int, feed: str | None) -> dict:
    spark = _spark(cpus)
    with tempfile.TemporaryDirectory(prefix=f"c2m_bench_{cpus}_", dir=_workdir_base()) as base:
        walls, eps = run_cdc_bench(
            spark, n_events, n_files, n_buckets, base, passes=passes, mfpt=mfpt, feed=feed
        )
    return {
        "cpus": cpus,
        "walls_sec": walls,
        "wall_sec": min(walls),
        "events_per_sec": round(eps, 1),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cdc-events", type=int, default=500_000)
    ap.add_argument("--cdc-files", type=int, default=8)
    ap.add_argument("--cdc-events-sf1", type=int, default=5_000_000)
    ap.add_argument("--cdc-files-sf1", type=int, default=16)
    # catch-up replays want bigger micro-batches than the steady-state
    # tail: mfpt=8 (2.5M-event batches) measured 528k ev/s vs 352k at
    # mfpt=4 — fixed per-batch cost (plan + commit + footer pass)
    # amortizes; a single 5M batch gains nothing further
    ap.add_argument("--mfpt-sf1", type=int, default=8)
    ap.add_argument("--no-cdc-sf1", action="store_true",
                    help="skip the 10x-event replay headline")
    ap.add_argument("--mfpt", type=int, default=4, help="maxFilesPerTrigger")
    ap.add_argument("--n-buckets", type=int, default=32)
    # 3 replay passes (min reported): this host's random multi-second
    # throttling storms can swallow BOTH passes of a 2-pass run (measured:
    # [15.3, 13.2] in a storm vs [24.0, 2.94] minutes earlier, same code)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--feed", default=None, help="reuse an existing feed dir")
    ap.add_argument("--cdc-only", action="store_true")
    ap.add_argument("--no-queries", action="store_true")
    ap.add_argument("--no-sf1", action="store_true",
                    help="skip the sf1-tier headline query block")
    ap.add_argument("--sf1-dir", default=os.environ.get(
        "SPARK_GRAFT_SF1_DIR", "/dev/shm/c2m_sf1"))
    ap.add_argument("--scaling", action="store_true", help="run local[N] vs local[4N]")
    ap.add_argument("--scale-n", type=int, default=2, help="N for the N vs 4N pair")
    ap.add_argument("--scale-events", type=int, default=None,
                    help="events for the scaling runs (default: --cdc-events)")
    ap.add_argument("--scale-mfpt", type=int, default=None,
                    help="maxFilesPerTrigger for the scaling children (default: --mfpt)")
    ap.add_argument("--gen-only", action="store_true",
                    help="generate --feed and exit (scaling-study helper)")
    args = ap.parse_args()

    if args.gen_only:
        spark = _spark(args.cpus)
        _gen_feed(spark, args.feed, args.cdc_events, args.cdc_files)
        spark.stop()
        return

    if args.cdc_only:
        print(json.dumps(cdc_only(args.cpus, args.cdc_events, args.cdc_files,
                                  args.n_buckets, args.passes, args.mfpt, args.feed)))
        return

    result = {
        "metric": "cdc_replay_wall_sec",
        "unit": "sec",
        "sf": 0.1 if "sf0.1" in args.sf_dir else args.sf_dir,
        "cpus": args.cpus,
        "cdc_events": args.cdc_events,
    }

    # the scaling children must be the ONLY Spark on the host: run them
    # before this process creates its own session
    scaling = run_scaling_study(args) if args.scaling else None

    spark = _spark(args.cpus)
    with tempfile.TemporaryDirectory(prefix="c2m_bench_", dir=_workdir_base()) as base:
        walls, eps = run_cdc_bench(
            spark, args.cdc_events, args.cdc_files, args.n_buckets, base,
            passes=args.passes, mfpt=args.mfpt,
        )
    result["value"] = min(walls)
    result["walls_all_passes"] = walls
    result["events_per_sec"] = round(eps, 1)

    # same replay WITH deferred corpus-view maintenance (view_refresh_every=4):
    # the O(changed) claim as a measured throughput delta vs the plain headline
    with tempfile.TemporaryDirectory(prefix="c2m_bench_v_", dir=_workdir_base()) as base:
        walls_v, eps_v = run_cdc_bench(
            spark, args.cdc_events, args.cdc_files, args.n_buckets, base,
            passes=2, mfpt=args.mfpt, with_view=True,
        )
    result["cdc_view"] = {
        "walls_sec": walls_v,
        "wall_sec": min(walls_v),
        "events_per_sec": round(eps_v, 1),
        "vs_plain": round(min(walls_v) / min(walls), 3),
        "note": "cold build: includes the one-time O(corpus) initial view "
                "render; steady-state maintenance cost is cdc_view_incremental",
    }
    with tempfile.TemporaryDirectory(prefix="c2m_bench_vi_", dir=_workdir_base()) as base:
        result["cdc_view_incremental"] = run_view_incremental_bench(
            spark, base, n_events=args.cdc_events, n_files=args.cdc_files,
            n_buckets=args.n_buckets,
        )

    if not args.no_cdc_sf1:
        # sf1-scale replay headline (10x events): the 500k replay is ~2.3 s
        # — mostly fixed overhead — so the 5M replay carries the real
        # round-over-round throughput signal
        with tempfile.TemporaryDirectory(
            prefix="c2m_bench_sf1_", dir=_workdir_base()
        ) as base:
            walls1, eps1 = run_cdc_bench(
                spark, args.cdc_events_sf1, args.cdc_files_sf1, args.n_buckets,
                base, passes=2, mfpt=args.mfpt_sf1,
            )
        result["cdc_sf1"] = {
            "events": args.cdc_events_sf1,
            "walls_sec": walls1,
            "wall_sec": min(walls1),
            "events_per_sec": round(eps1, 1),
        }
        # the r5 verdict's stretch: the view's O(changed) maintenance
        # measured at the 5M-event tier, not just sf0.1
        with tempfile.TemporaryDirectory(
            prefix="c2m_bench_sf1v_", dir=_workdir_base()
        ) as base:
            walls1v, eps1v = run_cdc_bench(
                spark, args.cdc_events_sf1, args.cdc_files_sf1, args.n_buckets,
                base, passes=2, mfpt=args.mfpt_sf1, with_view=True,
            )
        result["cdc_sf1_view"] = {
            "events": args.cdc_events_sf1,
            "walls_sec": walls1v,
            "wall_sec": min(walls1v),
            "events_per_sec": round(eps1v, 1),
            "vs_plain": round(min(walls1v) / min(walls1), 3),
        }

    if not args.no_queries:
        from couch_to_mongo_spark.gen_sf import GEN_VERSION

        result["queries"] = run_query_bench(spark, args.sf_dir)
        reg = check_regressions(result["queries"])
        if reg:
            result["regressions"] = reg
        result["ann_recall"] = run_ann_recall(spark, args.sf_dir)
        if not args.no_sf1:
            result["queries_sf1"] = run_sf1_bench(spark, args.sf1_dir)
            result["sf1_fixture"] = GEN_VERSION
            reg1 = check_regressions(
                result["queries_sf1"], key="queries_sf1", sf1_fixture=GEN_VERSION
            )
            if reg1:
                result["regressions_sf1"] = reg1
            result["sf1_note"] = (
                "sf1 = 10x sf0.1 (gen_sf.py: key-shifted replication; fresh "
                "documents corpus with scale-appropriate vocabulary, 2% "
                "planted near-dups, 1% boilerplate group beyond the "
                "max_doc_freq cap; r4+: embeddings generated fresh at 10x "
                "— clustered, 3% planted near-dups at cos 0.95 — so "
                "vector-family sf1 times are not comparable to rounds <= 3)"
            )

    if scaling is not None:
        result["scaling"] = scaling
        _write_baseline_md(result, args)

    # committed adjudication notes ride along with every record: when a
    # regression flag has been re-run exclusively and ruled weather (or
    # fixed), the verdict lives next to the flag instead of in a lost
    # conversation (BENCH/adjudications.json, keyed by query name)
    adj_path = os.path.join("BENCH", "adjudications.json")
    if os.path.exists(adj_path):
        with open(adj_path) as fh:
            result["adjudications"] = json.load(fh)

    result["local_record"] = persist_local_record(result)
    print(json.dumps(result))


def run_scaling_study(args) -> dict:
    """N-vs-4N core scaling — EVERY Spark phase in its own subprocess.

    The measured children must be the only Spark activity on the host:
    a parent session run in this process (even stopped) perturbed the
    local[4N] child by up to 10x in earlier rounds, and the sandbox's
    ~19-effective-core ceiling makes any concurrent JVM fatal to the
    ratio. So the feed generator is also a subprocess that fully exits
    before the first child starts."""
    n = args.scale_n
    ev = args.scale_events or args.cdc_events
    scaling = {"pair": [n, 4 * n], "events": ev}
    feed_dir = tempfile.mkdtemp(prefix="c2m_scalefeed_", dir=_workdir_base())
    feed = os.path.join(feed_dir, "changes")
    me = os.path.abspath(__file__)
    try:
        subprocess.run(
            [sys.executable, me, "--gen-only", "--feed", feed,
             "--cdc-events", str(ev), "--cdc-files", str(args.cdc_files)],
            check=True, capture_output=True, timeout=3600,
        )
        for c in (n, 4 * n):
            proc = subprocess.run(
                [sys.executable, me, "--cdc-only",
                 "--cpus", str(c), "--cdc-events", str(ev),
                 "--cdc-files", str(args.cdc_files), "--n-buckets", str(args.n_buckets),
                 "--passes", str(args.passes),
                 "--mfpt", str(args.scale_mfpt or args.mfpt),
                 "--feed", feed],
                capture_output=True, text=True, timeout=3600,
            )
            line = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")][-1]
            scaling[f"local{c}"] = json.loads(line)
    finally:
        import shutil

        shutil.rmtree(feed_dir, ignore_errors=True)
    lo, hi = scaling[f"local{n}"], scaling[f"local{4*n}"]
    scaling["efficiency"] = round(hi["events_per_sec"] / (4 * lo["events_per_sec"]), 3)
    return scaling


def _write_baseline_md(result: dict, args) -> None:
    os.makedirs("BENCH", exist_ok=True)
    s = result["scaling"]
    n, n4 = s["pair"]
    lo, hi = s[f"local{n}"], s[f"local{n4}"]
    with open(os.path.join("BENCH", "BASELINE.md"), "w") as fh:
        fh.write(
            f"""# BENCH — CDC apply throughput + scaling evidence

Workload: {s['events']:,} change events (deterministic generator, seed=42,
20% hot conversation, ~2% deletes), replayed through the streaming engine
(availableNow, maxFilesPerTrigger={args.mfpt}, n_buckets={args.n_buckets});
identical input feed at both parallelism levels; each level runs
{args.passes} full replay passes in one JVM and reports the MIN pass
(first pass carries JVM JIT + Python-worker warmup; min-over-repeats
rejects the host's random multi-second throttling stalls — see
"Measurement hygiene"). Work dirs and shuffle dirs on tmpfs to isolate
compute from the shared virtual disk. Every Spark phase (feed generation,
each parallelism level) runs in its own exclusive subprocess; nothing
else computes during the measured windows.

| parallelism | pass walls (s) | sustained events/sec |
|---|---|---|
| local[{n}]  | {lo['walls_sec']} | {lo['events_per_sec']:,} |
| local[{n4}] | {hi['walls_sec']} | {hi['events_per_sec']:,} |

**Scaling efficiency {n} -> {n4} (4x cores): {s['efficiency']}**
(target >= 0.8 per BASELINE.json; the reference's own 8->16-thread
efficiency was 0.61, /root/reference/README.md:55-56).

## Why N={n} (local[{n}] vs local[{n4}])

This sandbox advertises 32 vCPUs but delivers ~19 effective parallel
cores (measured with pure CPU-burn workers: 32 workers reach 19.2x one
worker; 8 workers reach 8.1x), and its memory bandwidth collapses above
~4 memory-bound workers (pure-memcpy probe). Any program is therefore
hardware-capped at ~0.59 efficiency for 8->32; low-N pairs isolate the
engine's scaling behavior from host oversubscription — the same pipeline
shape (shuffles sized to cores, partial aggregation, bucket-parallel
writes) is what scales executors on a real cluster, where each executor
brings its OWN memory bandwidth.

## Measurement hygiene (this sandbox)

Two measured pathologies make naive single-run numbers garbage here:

1. **Random multi-second throttling stalls.** A pure-memcpy probe (no
   Spark, no disk) measured 0.0 GB/s and 41 GB/s in back-to-back
   identical single-process runs; identical Spark replays have varied
   17s -> 177s. Mitigation: {args.passes} passes per level, report min.
2. **Concurrent JVMs poison each other.** The same local[8] replay
   measured 19s alone vs 127-600s with any other Spark job alive
   (~19 effective cores shared). Mitigation: strict serialization of
   every Spark phase into exclusive subprocesses.

Reference single-node baseline (BASELINE.md): ~571 docs/s best case.
This engine, sustained: {hi['events_per_sec']:,} events/sec at local[{n4}].

Commit-METADATA scaling (snapshot manifests, 10^4-commit replay):
see BENCH/METADATA.md (`python scripts/bench_metadata.py`).
"""
        )


if __name__ == "__main__":
    main()
