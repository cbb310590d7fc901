"""One benchmark run in one process: set up, time a closed loop, check.

Started by ``run.py`` with the checkout on PYTHONPATH (Spark's Python
workers import ``ds2s``).  Prints progress on stderr and the result as the
last stdout line.  Both workloads are a closed loop with one client:

- ``point``: a corpus in the shape of the sf0.1 documents test fixture
  (5,000 docs, 31 terms), indexed as ``__spark_entry__._sindex`` does
  (``ServingIndex(idx, codec="pef")``).  A request is one query of 1-5
  terms.  Every list fits in <= 40 blocks, so a request is fixed cost:
  plan jobs, lexicon lookup, the theta0 seed fetch and the collect.
- ``batch``: a seeded Zipf corpus (5,000-word vocabulary, head lists of up
  to 32 blocks, one-block tails) built with the default ``IndexConfig``
  (optpfd blocks) and served by ``ServingIndex(idx)``.  A request is a
  batch of 100 queries sharing one plan.  The lists are short, so a
  request is still bound by the plan's Spark jobs (the same 8 as a point
  query); decode and scoring are a small share of it and are measured on
  their own by the traced run's ``codecs.*`` and ``serve.kernel_s``.

Both rotate bmw -> maxscore -> wand per request, serve from the cached
block table and stop issuing requests once ``--seconds`` have passed.

Spark runs ``local[nproc // 2]`` with as many shuffle partitions: at
``local[nproc]`` on a 4-vCPU host the task threads, one Python worker per
task and the JVM's JIT and GC threads oversubscribe the CPUs, and a point
query measured 2.6-3.5 s and 5.5-6.0 CPU-s against 2.0-2.1 s and 4.5-4.8
CPU-s at ``local[2]`` (same seeds, runs interleaved).  ``get_spark``'s
floor of 8 shuffle partitions gives every stage 4 tasks per core; at 2 a
request took 15-20% less wall and 20-30% less CPU, so a run fits more
requests.

On a VM, wall time includes the time the hypervisor runs other guests on
this guest's vCPUs ("steal" in /proc/stat).  It comes in bursts that last
up to minutes and, with spells of a slower CPU that show no steal, is what
spreads runs of the same code on a shared host: in one session, point
requests with no steal took 1.2-1.4 s and those with about 1 CPU-s of
steal 2.0-2.6 s.  Every run logs the steal of its timed loop on
stderr and traced runs report it per request (``host.steal_s_per_op``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import gen
from spans import Recorder, host_steal_s, proc_tree_cpu_s

K = 10
ALGOS = ("bmw", "maxscore", "wand")  # rotated per request
SCORE_ATOL = 1e-8  # the repository's serve-vs-oracle tests use the same
DECODE_SAMPLE = 256  # blocks timed by the Spark-free codec probe
ENCODE_SAMPLE = 32  # pef encode is ~8 ms/block: keep the probe short


@dataclass(frozen=True)
class Workload:
    corpus: gen.CorpusSpec
    batch: int  # queries per request
    codec: str | None  # block codec override; None = IndexConfig default
    warmup: int  # untimed requests at the end of set-up


# The first request of a fresh JVM takes 2-3x the steady latency (JIT
# compilation of the serving path) and the second is near the plateau.
# Point set-up ends with two untimed requests; a batch request already
# runs ~4 s, so one untimed batch leaves the budget of a run to the timed
# loop.
WORKLOADS = {
    "point": Workload(gen.FIXTURE, batch=1, codec="pef", warmup=2),
    "batch": Workload(gen.ZIPF, batch=100, codec=None, warmup=1),
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def storage_mb(sc) -> float:
    """Spark storage memory held by persisted tables."""
    return sum(i.memSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 2**20


def same_topk(got: list[tuple], want: list[tuple]) -> bool:
    """Rank-identical: same (rank, doc_id) sequence, scores within atol."""
    return len(got) == len(want) and all(
        g[0] == w[0] and g[1] == w[1] and abs(g[2] - w[2]) <= SCORE_ATOL
        for g, w in zip(got, want)
    )


def count_failures(served: dict[int, list], oracle: dict[int, list],
                   raised: set[int]) -> int:
    """Queries that raised or whose top-k is not rank-identical."""
    return sum(
        1 for qid, rows in served.items()
        if qid in raised or not same_topk(rows, oracle.get(qid, []))
    )


def fault_selftest(served: dict[int, list], oracle: dict[int, list],
                   raised: set[int], failed: int) -> bool:
    """Corrupt one served row and check that the gate counts exactly one
    more failure."""
    qid = next((q for q, rows in sorted(served.items())
                if rows and q not in raised
                and same_topk(rows, oracle.get(q, []))), None)
    if qid is None:
        return False
    bad = dict(served)
    rank, doc, score = bad[qid][0]
    bad[qid] = [(rank, doc + 1, score)] + bad[qid][1:]
    return count_failures(bad, oracle, raised) == failed + 1


def by_qid(rows) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["qid"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    return out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="scratch dir for this run")
    ap.add_argument("--trace-out", help="where the traced run writes spans")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    work = Path(args.work)
    rec = Recorder(enabled=bool(args.trace))

    # inputs first: generating them is the benchmark's work, not set-up
    corpus = gen.write_corpus(wl.corpus, args.seed, work / "corpus")
    warm_q = gen.query_stream(corpus, args.seed, wl.batch * wl.warmup, salt=1)
    log(f"{args.workload} seed={args.seed}: {corpus.n_postings} postings, "
        f"{len(corpus.words)} terms, corpus sha256 {corpus.sha256[:16]}")

    t_setup = time.perf_counter()
    with rec.span("setup", "setup"):
        with rec.span("session.get_spark"):
            from ds2s.session import get_spark

            cores = max(1, len(os.sched_getaffinity(0)) // 2)
            spark = get_spark(app=f"perfbench-{args.workload}", cores=cores,
                              shuffle_partitions=cores)
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        rec.attach(sc)
        from ds2s.corpus import load_documents
        from ds2s.invert import build_index
        from ds2s.manifest import IndexStore
        from ds2s.query import queries_df, ranked_or_topk
        from ds2s.serve import ServingIndex

        stage_times: dict = {}
        with rec.span("invert.build_index"):
            idx = build_index(load_documents(spark, str(corpus.path)),
                              stage_times=stage_times)
        with rec.span("blocks.encode"):
            sidx = ServingIndex(idx, codec=wl.codec)
            sidx.blocks.count()
        plan_spans: list = []
        survivor_blocks = sidx.survivor_blocks

        def traced_plan(*a, **kw):
            with rec.span("serve.survivor_blocks") as sp:
                out = survivor_blocks(*a, **kw)
            if sp is not None:
                plan_spans.append(sp)
            return out

        sidx.survivor_blocks = traced_plan
        warm_walls = []
        with rec.span("serve.warmup"):
            for i in range(wl.warmup):
                qs = warm_q[i * wl.batch:(i + 1) * wl.batch]
                t0 = time.perf_counter()
                sidx.topk(queries_df(spark, gen.query_rows(qs, -len(warm_q))),
                          k=K, algo=ALGOS[i % len(ALGOS)]
                          ).orderBy("qid", "rank").collect()
                warm_walls.append(time.perf_counter() - t0)
    setup_s = time.perf_counter() - t_setup
    cache_mb = storage_mb(sc)
    log(f"setup {setup_s:.2f}s, warm-up requests "
        + ", ".join(f"{w:.2f}s" for w in warm_walls))

    # -- timed closed loop ---------------------------------------------------
    served: dict[int, list] = {}
    raised: set[int] = set()
    ops: list[dict] = []
    issued: list[list[str]] = []
    stream = gen.query_stream(corpus, args.seed, 4000) if wl.batch == 1 else None
    t_loop = time.perf_counter()
    steal0 = host_steal_s()
    deadline = t_loop + args.seconds
    while not ops or time.perf_counter() < deadline:
        n = len(ops)
        algo = ALGOS[n % len(ALGOS)]
        first = len(issued)
        if stream is not None:
            qs = [stream[first % len(stream)]]
        else:
            qs = gen.query_stream(corpus, args.seed, wl.batch, salt=100 + n)
        issued.extend(qs)
        qdf = queries_df(spark, gen.query_rows(qs, first))
        op_id = f"op{n}"
        plan_spans.clear()
        c0, s0 = proc_tree_cpu_s(), host_steal_s()
        t0 = time.perf_counter()
        try:
            with rec.span("serve.op", op_id) as op_span:
                with rec.span("serve.topk"):
                    df = sidx.topk(qdf, k=K, algo=algo)
                rows = df.orderBy("qid", "rank").collect()
            got = by_qid(rows)
        except Exception as e:  # a failed request counts; the loop goes on
            log(f"{op_id} raised {type(e).__name__}: {e}")
            got = {}
            raised.update(range(first, len(issued)))
        wall = time.perf_counter() - t0
        cpu, steal = proc_tree_cpu_s() - c0, host_steal_s() - s0
        for qid in range(first, len(issued)):
            served[qid] = got.get(qid, [])
        ops.append({
            "algo": algo, "wall_s": wall, "cpu_s": cpu, "steal_s": steal,
            "queries": qs,
            "plan": dict(sidx.last_plan),
            "span": op_span, "plan_span": plan_spans[0] if plan_spans else None,
        })
    log(f"{len(ops)} ops, {len(issued)} queries in "
        f"{time.perf_counter() - t_loop:.2f}s, host steal "
        f"{host_steal_s() - steal0:.2f} CPU-s: "
        + ", ".join(f"{o['algo']} {o['wall_s']:.2f}s (steal {o['steal_s']:.2f})"
                    for o in ops))

    # -- correctness gate: one exact ranked-OR pass over every issued query --
    oracle = by_qid(
        ranked_or_topk(idx, queries_df(spark, gen.query_rows(issued)), k=K)
        .orderBy("qid", "rank").collect()
    )
    failed = count_failures(served, oracle, raised)
    correct = failed == 0
    if not fault_selftest(served, oracle, raised, failed):
        log("fault self-test: a corrupted row was not counted")
        correct = False

    log(f"checked {len(served)} queries: {failed} failed")
    walls = [o["wall_s"] for o in ops]
    if args.trace:
        metrics, trace_ok = layer_metrics(
            spark, rec, idx, sidx, IndexStore(str(work / "store")), wl, args,
            ops, stage_times, corpus,
        )
        correct = correct and trace_ok
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (1000 * median(walls), "ms"),
            "cpu_s_per_query": (sum(o["cpu_s"] for o in ops) / len(issued), "s"),
            "cache_mb": (cache_mb, "MB"),
        }
    # the last act: run.py kills the session (JVM included) on this line
    print(json.dumps({
        "correct": correct,
        "attempted": len(served),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    spark.stop()
    return 0


def layer_metrics(spark, rec, idx, sidx, store, wl, args, ops, stage_times,
                  corpus):
    """Per-layer metrics of a traced run.  The store layer, which serving
    does not touch, is measured after the timed loop: the served blocks are
    written with ``write_checkpointed`` and read back with
    ``from_store(cache_blocks=False)``."""
    from pyspark.sql import functions as F

    from ds2s.blocks import index_size_report
    from ds2s.serve import ServingIndex

    with rec.span("post", "post"):
        with rec.span("manifest.write_checkpointed"):
            store.write_checkpointed(idx, source=args.workload,
                                     codec=wl.codec, blocks=sidx.blocks)
        with rec.span("manifest.from_store"):
            ServingIndex.from_store(spark, store, cache_blocks=False)
        with rec.span("codecs.report"):
            rep = index_size_report(sidx.blocks).collect()[0]
            sample = (
                sidx.blocks.select("n", "doc_bytes", "tf_bytes", "len_bytes")
                .orderBy(F.xxhash64("term_id", "block_id"))
                .limit(DECODE_SAMPLE).collect()
            )
        with rec.span("codecs.kernels"):
            codec = codec_timings(sample, idx.n_docs)
        terms = sorted({t for o in ops for q in o["queries"] for t in q})
        lex_df = {
            r["term"]: int(r["df"]) for r in
            idx.lexicon.filter(F.col("term").isin(terms))
            .select("term", "df").collect()
        }
        n_terms = idx.lexicon.count()

    def span(name):
        return next(s for s in rec.spans if s.name == name)

    def secs(name):
        return span(name).wall_ns / 1e9

    bs = idx.cfg.block_size
    unpruned = survivors = 0
    tiers = {"driver": 0, "superblock": 0, "kernel": 0}
    for o in ops:
        plan = o["plan"]
        survivors += int(plan.get("survivors", 0))
        if "tier" in plan:
            tiers[plan["tier"]] += 1
        for q in o["queries"]:
            unpruned += sum(-(-lex_df[t] // bs) for t in set(q) if t in lex_df)
    op_tot = [rec.totals(o["span"]) for o in ops]
    plan_ns = [o["plan_span"].wall_ns if o["plan_span"] else 0 for o in ops]
    n_q = sum(len(o["queries"]) for o in ops)
    inv, enc, man = (span(n) for n in ("invert.build_index", "blocks.encode",
                                       "manifest.write_checkpointed"))
    m = {
        "session.start_s": (secs("session.get_spark"), "s"),
        "invert.build_s": (inv.wall_ns / 1e9, "s"),
        "invert.lexicon_s": (stage_times["lexicon"], "s"),
        "invert.stats_s": (stage_times["stats"], "s"),
        "invert.tf_s": (stage_times["tf"], "s"),
        "invert.jobs": (rec.totals(inv)["jobs"], "count"),
        "invert.tasks": (rec.totals(inv)["tasks"], "count"),
        "invert.cpu_s": (inv.cpu_s, "s"),
        "invert.n_postings": (idx.n_postings, "count"),
        "invert.n_terms": (n_terms, "count"),
        "blocks.encode_s": (enc.wall_ns / 1e9, "s"),
        "blocks.jobs": (rec.totals(enc)["jobs"], "count"),
        "blocks.tasks": (rec.totals(enc)["tasks"], "count"),
        "blocks.cpu_s": (enc.cpu_s, "s"),
        "blocks.n_blocks": (int(rep["n_blocks"]), "count"),
        **codec,
        "codecs.bits_per_doc": (float(rep["bits_per_doc"]), "bits"),
        "codecs.bits_per_tf": (float(rep["bits_per_tf"]), "bits"),
        "manifest.write_s": (man.wall_ns / 1e9, "s"),
        "manifest.jobs": (rec.totals(man)["jobs"], "count"),
        "manifest.bytes": (
            sum(int(u.get("bytes", 0)) for u in store.completed_units().values()),
            "bytes"),
        "manifest.load_s": (secs("manifest.from_store"), "s"),
        "serve.plan_s": (median(plan_ns) / 1e9, "s"),
        "serve.kernel_s": (
            median([o["span"].wall_ns - p for o, p in zip(ops, plan_ns)]) / 1e9,
            "s"),
        "serve.jobs_per_batch": (median([t["jobs"] for t in op_tot]), "count"),
        "serve.stages_per_batch": (median([t["stages"] for t in op_tot]), "count"),
        "serve.tasks_per_batch": (median([t["tasks"] for t in op_tot]), "count"),
        "serve.cpu_s_per_batch": (median([o["span"].cpu_s for o in ops]), "s"),
        "serve.est_blocks": (
            median([o["plan"].get("est_blocks", 0) for o in ops]), "count"),
        "serve.collected_rows": (
            median([o["plan"].get("collected_rows", 0) for o in ops]), "count"),
        "serve.survivors_per_query": (survivors / n_q, "count"),
        "serve.survivor_frac": (survivors / unpruned if unpruned else 0.0,
                                "ratio"),
        **{f"serve.tier.{t}": (c, "count") for t, c in tiers.items()},
        "host.steal_s_per_op": (sum(o["steal_s"] for o in ops) / len(ops), "s"),
        "trace.op_p50_ms": (1000 * median([o["wall_s"] for o in ops]), "ms"),
        "trace.spans": (len(rec.spans), "count"),
    }
    errs = rec.self_time_errors()
    for e in errs:
        log(f"self-time check: {e}")
    if not rec.self_time_selftest():
        errs.append("self-time self-test: overlapping spans were not flagged")
        log(errs[-1])
    df_ok = all(corpus.df.get(t) == d for t, d in lex_df.items())
    if not df_ok:
        log("lexicon df differs from the generator's document counts")
    if args.trace_out:
        rec.write(Path(args.trace_out), extra={
            "workload": args.workload, "seed": args.seed,
            "metrics": {k: v for k, (v, _) in m.items()},
            "self_time_errors": errs,
        })
    return m, not errs and df_ok


def codec_timings(sample, n_docs: int) -> dict:
    """Spark-free decode/encode of the index's own block payloads in this
    process (docs + tf + doc lengths per block); median of 3 passes."""
    from ds2s.codecs import (CODEC_NAMES, decode_docs, decode_tfs,
                             encode_docs, encode_tfs)

    blobs = [(bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), bytes(r["len_bytes"]))
             for r in sample]
    n_post = sum(int(r["n"]) for r in sample)
    decoded = [(decode_docs(d)[0], decode_tfs(t)[0], decode_tfs(ln)[0])
               for d, t, ln in blobs[:ENCODE_SAMPLE]]
    codecs = [tuple(CODEC_NAMES[b[0]] for b in blob)
              for blob in blobs[:ENCODE_SAMPLE]]

    def dec():
        for d, t, ln in blobs:
            decode_docs(d)
            decode_tfs(t)
            decode_tfs(ln)

    def enc():
        for (docs, tfs, lens), (cd, ct, cl) in zip(decoded, codecs):
            encode_docs(docs, n_docs, cd)
            encode_tfs(tfs, ct)
            encode_tfs(lens, cl)

    def timed(fn):
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return median(walls)

    d_s, e_s = timed(dec), timed(enc)
    return {
        "codecs.decode_us_per_block": (1e6 * d_s / len(blobs), "us"),
        "codecs.decode_mpostings_s": (n_post / d_s / 1e6, "Mpostings/s"),
        "codecs.encode_us_per_block": (1e6 * e_s / len(decoded), "us"),
    }


if __name__ == "__main__":
    sys.exit(main())
