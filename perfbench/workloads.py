"""The benchmark's workloads.

Each workload is one function ``(run) -> None`` that fills ``run.e2e``
(end-to-end metrics, measured with the tracer off) and ``run.layer``
(per-layer numbers, read from the tracer's spans and the engine's return
values).  Timed regions hold only engine calls; every correctness check
runs after them.

Load: one process, one closed-loop client (the next call starts when the
previous one returned), Spark at local[nproc].  Serving is single-threaded
because the reader's decode cache is not thread-safe.
"""

from __future__ import annotations

import gc
import math
import os
import shutil
import time

import numpy as np

from . import sparkprobe
from .metrics import median, tail_percentile

K = 20
# every 5th query of a stream is conjunctive; qid % 5 == 3 never coincides
# with the generator's out-of-vocabulary queries (qid % 10 == 0)
AND_EVERY, AND_AT = 5, 3
ORACLE_SAMPLE = 12          # stream queries checked against the oracle
SCORE_TOL = 1e-6

INDEX_DOCS = 6_000
# the reader's decode-cache budget as a share of the index's postings: the
# default budget (10M postings) over a 200k-doc / 16M-posting index, kept
# at this corpus size so the serving stream both hits and evicts
INDEX_CACHE_SHARE = 10 / 16
# an untimed build of a small corpus starts the Python workers and most of
# the JVM's JIT work; the next builds of a fresh JVM still get cheaper by
# 10-25% each, so the build figures are taken over several
WARM_DOCS = 2_000
N_BUILDS = 3
# the first queries on a new reader run while the JVM is still busy after
# the Spark work before them (GC, JIT) and while the decode cache fills;
# they are served untimed
WARM_QUERIES = 100
STREAM_MIN = 500            # p98 keeps >= 10 samples beyond it
STREAM_LEN = 4000           # distinct queries before the stream repeats
DIST_POINTS = 4
DIST_BATCH_SIZE = 50
COLD_QUERIES = 100

INGEST_BASE_DOCS = 4_000
INGEST_DELTA_DOCS = 2_000
INGEST_STREAM = 300


def child_seeds(seed: int, n: int) -> list[int]:
    ss = np.random.SeedSequence(seed)
    return [int(c.generate_state(1)[0]) for c in ss.spawn(n)]


def write_corpus(path: str, n_docs: int, seed: int, first_id: int = 0,
                 n_files: int = 8):
    """Generate a Zipf webtext corpus and write it as parquet (doc_id,
    text).  Returns (docs as [(doc_id, text)], exact text bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from knowledgeir_spark.fixtures.webpages import gen_webpages

    texts = gen_webpages(n_docs, seed=seed, with_html=False)["text"]
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    os.makedirs(path, exist_ok=True)
    tbl = pa.table({"doc_id": ids, "text": pa.array(texts.tolist(), pa.string())})
    step = math.ceil(n_docs / n_files)
    for i in range(0, n_docs, step):
        pq.write_table(tbl.slice(i, step), os.path.join(path, f"part-{i:08d}.parquet"))
    docs = list(zip(ids.tolist(), texts.tolist()))
    return docs, sum(len(t.encode("utf-8")) for t in texts)


def query_stream(n: int, seed: int) -> list[tuple[str, str, str]]:
    """(qid, query, mode) with every AND_EVERY-th query conjunctive."""
    from knowledgeir_spark.fixtures.webpages import gen_queries

    qs = gen_queries(n, seed=seed)
    return [
        (qid, q, "and" if int(qid) % AND_EVERY == AND_AT else "or")
        for qid, q in zip(qs["qid"], qs["query"])
    ]


def index_bytes(index_dir: str) -> int:
    """Bytes of every committed file of an index, leaving out the lineage
    manifests and the stream checkpoint (bookkeeping whose size varies with
    timestamps, not with the index)."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(index_dir):
        dirnames[:] = [d for d in dirnames
                       if d not in ("_lineage", "_stream_checkpoint")]
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return total


def _file_versions(root: str) -> dict[tuple[int, int], int]:
    """{(inode, mtime): size} of every file under root.  A hardlink keeps
    both, so a file linked into a new snapshot is not counted as written;
    an inode freed and reused by a new file gets a new mtime."""
    out = {}
    for dirpath, _d, filenames in os.walk(root):
        for f in filenames:
            st = os.stat(os.path.join(dirpath, f))
            out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


# -- correctness ---------------------------------------------------------

def oracle_answer(oracle, query: str, mode: str) -> list[tuple[int, float]]:
    """Reference top-K: the ported reference scorer over every doc, and for
    mode "and" only the docs that hold every query term."""
    from knowledgeir_spark.oracle.retrieval import rank_key
    from knowledgeir_spark.oracle.tokenizer import query_lm

    scores = oracle.score_all(query)
    if mode == "and":
        terms = list(query_lm(query))
        keep = None
        for t in terms:
            ds = {d for d, _ in oracle.postings.get(t, [])}
            keep = ds if keep is None else keep & ds
        scores = {d: s for d, s in scores.items() if d in (keep or set())}
    ranked = sorted(scores.items(), key=lambda kv: (-rank_key(kv[1]), kv[0]))
    return ranked[:K]


def same_answer(got: list[tuple[int, float]],
                want: list[tuple[int, float]]) -> str | None:
    """None when the doc ids agree in order and scores within SCORE_TOL,
    else a short reason."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"doc ids {[d for d, _ in got][:5]} != {[d for d, _ in want][:5]}"
    for (d, a), (_, b) in zip(got, want):
        if abs(a - b) > SCORE_TOL:
            return f"doc {d} score {a!r} != {b!r}"
    return None


def by_qid(rows) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = {}
    for qid, doc_id, score, rank in sorted(rows, key=lambda r: (str(r[0]), r[3])):
        out.setdefault(str(qid), []).append((int(doc_id), float(score)))
    return out


def check_against_oracle(run, oracle, stream, answers, sample, kind):
    for qid, q, mode in (stream[i] for i in sample):
        if qid not in answers:
            continue  # the call itself failed and is already counted
        why = same_answer(answers[qid], oracle_answer(oracle, q, mode))
        if why:
            run.ledger.fail(kind, f"q{qid} {mode}: {why}")
        else:
            run.ledger.ok(kind)


# -- timed engine calls ----------------------------------------------------

def serve_stream(run, reader, stream, start: int, n: int, seconds: float = 0.0,
                 span_name: str = "IndexReader.search_local"):
    """Closed loop over the stream (cycled) from position `start` until at
    least n queries were sent and `seconds` elapsed.  Returns (latencies_ms
    by mode, plus the CPU ms of this process, Arrow's threads included,
    under "cpu"; answers of each query's first pass; per-query stats in
    trace mode)."""
    lat = {"or": [], "and": [], "cpu": []}
    answers: dict[str, list] = {}
    stats: list[dict] = []
    t_end = time.perf_counter() + seconds
    i = start
    while i < start + n or time.perf_counter() < t_end:
        qid, q, mode = stream[i % len(stream)]
        i += 1
        with run.tracer.span(span_name, mode=mode):
            t0 = time.perf_counter()
            c0 = time.process_time()
            try:
                res = reader.search_local([(qid, q)], k=K, mode=mode)
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                run.ledger.fail("serve", f"q{qid}: {e!r}")
                res = None
            dt = time.perf_counter() - t0
            cpu = time.process_time() - c0
        if res is None:
            continue
        run.ledger.ok("serve")
        lat[mode].append(dt * 1000)
        lat["cpu"].append(cpu * 1000)
        answers.setdefault(qid, by_qid(res).get(qid, []))
        if run.tracer.enabled:
            stats.append({**reader.last_query_stats(), "mode": mode})
    return lat, answers, stats


def serve_layer(run, stats: list[dict]) -> None:
    """serve.* per-layer counts summed over a stream's traced queries."""
    n = len(stats)
    if not n:
        return
    hits = stats[-1]["cache_hits"] - stats[0]["cache_hits"]
    misses = stats[-1]["cache_misses"] - stats[0]["cache_misses"]
    dec = sum(s.get("blocks_decoded", 0) + s.get("bool_blocks_decoded", 0)
              for s in stats)
    tot = sum(s.get("blocks_total", 0) + s.get("bool_blocks_total", 0)
              for s in stats)
    ess = [s["n_essential"] for s in stats if "n_essential" in s]
    run.layer.update({
        "serve.cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "serve.blocks_decoded_per_query": dec / n,
        "serve.block_skip_ratio": 1 - dec / tot if tot else 0.0,
        "serve.essential_terms_per_query": sum(ess) / len(ess) if ess else 0.0,
    })


def timed_build(run, docs_df, index_dir: str, n_docs: int, token: str):
    """build_index into a fresh directory.  Returns (config, stage results,
    wall s, CPU s of the process tree)."""
    from knowledgeir_spark.index.build import (
        IndexConfig,
        build_index,
        choose_salt_range,
    )

    cfg = IndexConfig(salt_range=choose_salt_range(n_docs, run.cpus))
    shutil.rmtree(index_dir, ignore_errors=True)
    with run.tracer.span("build_index", spark=True) as sp:
        c0 = sparkprobe.tree_cpu_s()
        t0 = time.perf_counter()
        res = build_index(run.spark, docs_df, index_dir, cfg, input_token=token)
        wall = time.perf_counter() - t0
        cpu = sparkprobe.tree_cpu_s() - c0
    sp["results"] = res
    sp["wall"] = wall
    return cfg, res, wall, cpu


def build_layer(run, sp: dict) -> None:
    """build.* per-layer numbers from one traced build_index span."""
    res, wall, spk = sp["results"], sp["wall"], sp["spark"]
    stage_s = {k: v.wall_ms / 1000 for k, v in res.items()}
    run.layer.update({
        "build.doc_terms_s": stage_s["doc_terms"],
        "build.postings_s": stage_s["postings"],
        "build.term_stats_s": stage_s["term_stats"],
        "build.field_stats_s": wall - sum(stage_s.values()),
        "build.shuffle_write_bytes": spk["shuffle_write_bytes"],
        "build.spill_bytes": spk["spill_disk_bytes"],
        "build.executor_run_s": spk["executor_run_ms"] / 1000,
        "build.cpu_util": spk["executor_run_ms"] / 1000 / (wall * run.cpus),
        "build.task_skew": spk["skew"] or 0.0,
        "build.doc_terms_rows": res["doc_terms"].rows,
        "build.block_rows": res["postings"].rows,
        "build.postings_bytes": res["postings"].bytes,
    })


# -- workloads -------------------------------------------------------------

def dist_phase(run, reader, stream):
    """Distributed point queries, then one 50-query batch, through
    IndexReader.search(...).collect().  Returns the answers by qid and the
    per-layer dist.* numbers."""
    ors = [(qid, q) for qid, q, mode in stream if mode == "or"]
    calls = [("point", [p]) for p in ors[:DIST_POINTS]]
    calls.append(("batch", ors[:DIST_BATCH_SIZE]))
    answers: dict[str, list] = {}
    done: dict[str, list] = {"point": [], "batch": []}
    for kind, batch in calls:
        with run.tracer.span("IndexReader.search", spark=True,
                             queries=len(batch)) as sp:
            t0 = time.perf_counter()
            try:
                rows = reader.search(batch, k=K).collect()
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                run.ledger.fail("dist", f"{kind} {batch[0][0]}: {e!r}")
                continue
            dt = time.perf_counter() - t0
        got = by_qid([(r["qid"], r["doc_id"], r["score"], r["rank"])
                      for r in rows])
        for qid, _q in batch:
            answers[qid] = got.get(qid, [])
        done[kind].append((dt, len(batch), sp["spark"]))
    pts, bts = done["point"], done["batch"]
    layer = {}
    if pts:
        n = len(pts)
        layer.update({
            "dist.p50_ms": median([dt * 1000 for dt, _, _ in pts]),
            "dist.jobs_per_query": sum(s["jobs"] for _, _, s in pts) / n,
            "dist.tasks_per_query": sum(s["tasks"] for _, _, s in pts) / n,
            "dist.executor_ms_per_query":
                sum(s["executor_run_ms"] for _, _, s in pts) / n,
            "dist.shuffle_bytes_per_query":
                sum(s["shuffle_write_bytes"] for _, _, s in pts) / n,
            "dist.driver_ms_per_query":
                sum(dt * 1000 - s["job_ms"] for dt, _, s in pts) / n,
        })
    for dt, m, s in bts:
        layer.update({
            "dist.batch_qps": m / dt,
            "dist.batch_executor_s": s["executor_run_ms"] / 1000,
            "dist.batch_shuffle_bytes": s["shuffle_write_bytes"],
        })
    return answers, layer


def quiesce(run) -> None:
    """Collect garbage in this process and in the JVM before a timed phase,
    so neither collector runs leftovers of the previous phase inside it."""
    gc.collect()
    run.spark.sparkContext._jvm.System.gc()


def run_index(run) -> None:
    """Build fresh indexes of a Zipf webtext corpus, then serve a query
    stream on the first one.  The traced run adds distributed point and
    batch queries and a pass on a cold reader."""
    from knowledgeir_spark.index.query import DecodedTermCache, IndexReader
    from knowledgeir_spark.oracle.index import OracleIndex

    s_corpus, s_queries, s_sample = child_seeds(run.seed, 3)
    t0 = time.perf_counter()
    docs, text_bytes = write_corpus(run.path("corpus"), INDEX_DOCS, s_corpus)
    run.layer["fixtures.gen_s"] = time.perf_counter() - t0
    docs_df = run.spark.read.parquet(run.path("corpus"))
    write_corpus(run.path("warm_corpus"), WARM_DOCS, s_corpus + 1)
    timed_build(run, run.spark.read.parquet(run.path("warm_corpus")),
                run.path("warm"), WARM_DOCS, "warm")
    shutil.rmtree(run.path("warm"), ignore_errors=True)
    run.tracer.spans.clear()
    stream = query_stream(STREAM_LEN, s_queries)
    quiesce(run)
    run.setup_done()

    idx = run.path("idx")
    walls, cpus = [], []
    for b in range(N_BUILDS):
        out = idx if b == 0 else run.path("rebuild")
        _cfg, res, wall, cpu = timed_build(run, docs_df, out, INDEX_DOCS,
                                           f"timed{b}")
        run.ledger.ok("build")
        walls.append(wall)
        cpus.append(cpu)
        if b == 0:
            budget = int(INDEX_CACHE_SHARE * res["doc_terms"].rows)
        else:
            shutil.rmtree(out, ignore_errors=True)
    run.info["build_wall_s"] = [round(w, 3) for w in walls]
    run.info["build_cpu_s"] = cpus
    # the CPU of all the timed builds over all their docs: each build is
    # still a step further in the JVM's JIT warm-up, and the step at which
    # a build's CPU drops varies between runs more than the sum does
    run.e2e["index_cpu_ms_per_doc"] = sum(cpus) * 1000 / (N_BUILDS * INDEX_DOCS)
    run.e2e["index_bytes_per_text_byte"] = index_bytes(idx) / text_bytes
    run.layer["build.docs_per_s"] = median([INDEX_DOCS / w for w in walls])

    reader = IndexReader(run.spark, idx)
    reader.decode_cache = DecodedTermCache(budget)
    quiesce(run)
    _l, warm_answers, _s = serve_stream(run, reader, stream, 0, WARM_QUERIES)
    lat, answers, stats = serve_stream(run, reader, stream, WARM_QUERIES,
                                       STREAM_MIN, run.seconds)
    answers.update(warm_answers)
    serve_lat = lat["or"] + lat["and"]
    run.e2e["serve_cpu_ms"] = sum(lat["cpu"]) / len(lat["cpu"])
    run.layer.update({
        "serve.p50_ms": median(serve_lat),
        "serve.p90_ms": tail_percentile(serve_lat, 90),
    })
    run.measure_done()

    dist_answers = {}
    if run.tracer.enabled:
        # the build whose wall time is the median
        builds = sorted(run.tracer.named("build_index"), key=lambda sp: sp["wall"])
        build_layer(run, builds[len(builds) // 2])
        serve_layer(run, stats)
        dist_answers, dist_layer = dist_phase(run, reader, stream)
        cold = IndexReader(run.spark, idx)
        cold.decode_cache = DecodedTermCache(budget)
        cold_lat, _a, _s = serve_stream(
            run, cold, stream, 0, COLD_QUERIES,
            span_name="IndexReader.search_local.cold",
        )
        run.layer.update({
            **dist_layer,
            "serve.p98_ms": tail_percentile(serve_lat, 98),
            "serve.and_p50_ms": median(lat["and"]),
            "serve.cold_p50_ms": median(cold_lat["or"] + cold_lat["and"]),
        })

    # -- correctness, outside every timed region
    for qid, got in dist_answers.items():
        why = same_answer(got, answers.get(qid, []))
        if why:
            run.ledger.fail("dist", f"q{qid} dist != serve: {why}")
        else:
            run.ledger.ok("dist")
    oracle = OracleIndex(docs)
    rng = np.random.default_rng(s_sample)
    sample = sorted(rng.choice(WARM_QUERIES + STREAM_MIN, ORACLE_SAMPLE,
                               replace=False).tolist())
    check_against_oracle(run, oracle, stream, answers, sample, "oracle")


def run_ingest(run) -> None:
    """Fold a delta into a base index with incremental_index +
    compact(mode="append"), reading with a fresh reader and with a reader
    opened before the fold."""
    from knowledgeir_spark.index.build import IndexConfig, choose_salt_range
    from knowledgeir_spark.index.compact import compact
    from knowledgeir_spark.index.query import IndexReader
    from knowledgeir_spark.oracle.index import OracleIndex
    from knowledgeir_spark.streaming.incremental import incremental_index

    s_base, s_queries, s_sample, s_delta = child_seeds(run.seed, 4)
    t0 = time.perf_counter()
    docs, text_bytes = write_corpus(run.path("corpus"), INGEST_BASE_DOCS, s_base)
    run.layer["fixtures.gen_s"] = time.perf_counter() - t0
    idx = run.path("idx")
    cfg, _res, _wall, _cpu = timed_build(
        run, run.spark.read.parquet(run.path("corpus")), idx,
        INGEST_BASE_DOCS, "base",
    )
    stream = query_stream(WARM_QUERIES + INGEST_STREAM, s_queries)
    rng = np.random.default_rng(s_sample)
    sample = sorted(rng.choice(len(stream), ORACLE_SAMPLE, replace=False).tolist())
    sample_q = [stream[i] for i in sample]
    warm = IndexReader(run.spark, idx)
    warm.search_local([stream[0][:2]], k=K)
    quiesce(run)
    run.setup_done()
    if run.tracer.enabled:
        build_layer(run, run.tracer.named("build_index")[-1])

    # a reader opened before the fold, and its answers
    stale = IndexReader(run.spark, idx)
    pre = {}
    for qid, q, mode in sample_q:
        try:
            pre[qid] = by_qid(stale.search_local([(qid, q)], k=K, mode=mode)).get(qid, [])
            run.ledger.ok("pre_fold_read")
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            run.ledger.fail("pre_fold_read", f"q{qid}: {e!r}")

    stream_in = run.path("stream_in")
    delta_docs, delta_text_bytes = write_corpus(
        stream_in, INGEST_DELTA_DOCS, s_delta, first_id=INGEST_BASE_DOCS, n_files=4
    )                                   # the delta lands
    before = _file_versions(idx)
    c0 = sparkprobe.tree_cpu_s()
    t0 = time.perf_counter()
    with run.tracer.span("fold"):
        with run.tracer.span("incremental_index", spark=True):
            t_a = time.perf_counter()
            incremental_index(run.spark, stream_in, idx,
                              "doc_id long, text string", cfg)
            ingest_s = time.perf_counter() - t_a
        with run.tracer.span("compact", spark=True):
            t_b = time.perf_counter()
            folded = compact(run.spark, idx, cfg, mode="append")
            fold_s = time.perf_counter() - t_b
        t_c = time.perf_counter()
        fresh = IndexReader(run.spark, idx)
        qid, q, mode = sample_q[0]
        with run.tracer.span("IndexReader.search_local", mode=mode):
            first = fresh.search_local([(qid, q)], k=K, mode=mode)
        first_ms = (time.perf_counter() - t_c) * 1000
    ttq = time.perf_counter() - t0
    fold_cpu = sparkprobe.tree_cpu_s() - c0
    run.ledger.ok("fold")
    run.e2e["index_cpu_ms_per_doc"] = fold_cpu * 1000 / INGEST_DELTA_DOCS
    run.layer["ingest.docs_per_s"] = INGEST_DELTA_DOCS / (ingest_s + fold_s)

    # the reader opened before the fold answers the same queries again
    stale_answers, stale_fail = {}, 0
    for qid, q, mode in sample_q:
        try:
            stale_answers[qid] = by_qid(
                stale.search_local([(qid, q)], k=K, mode=mode)
            ).get(qid, [])
        except Exception as e:  # noqa: BLE001 - the known stale-reader defect
            stale_fail += 1
            run.ledger.fail("stale_read", f"q{qid}: {type(e).__name__}")
    # serving on the folded index, after the untimed reads above
    quiesce(run)
    _l, warm_answers, _s = serve_stream(run, fresh, stream, 0, WARM_QUERIES)
    lat, answers, stats = serve_stream(run, fresh, stream, WARM_QUERIES,
                                       INGEST_STREAM)
    answers.update(warm_answers)
    serve_lat = lat["or"] + lat["and"]
    run.e2e["serve_cpu_ms"] = sum(lat["cpu"]) / len(lat["cpu"])
    run.layer.update({
        "serve.p50_ms": median(serve_lat),
        "serve.p90_ms": tail_percentile(serve_lat, 90),
    })
    run.measure_done()
    run.e2e["index_bytes_per_text_byte"] = (
        index_bytes(idx) / (text_bytes + delta_text_bytes)
    )

    delta_dirs = [os.path.join(idx, "deltas", d)
                  for d in os.listdir(os.path.join(idx, "deltas"))]
    delta_bytes = sum(index_bytes(d) for d in delta_dirs)
    after = _file_versions(idx)
    written = sum(sz for key, sz in after.items() if key not in before)
    defrag = folded.get("defrag", {})
    run.layer.update({
        "ingest.delta_s": ingest_s,
        "ingest.ttq_s": ttq,
        "fold.s": fold_s,
        "fold.postings_s": folded["postings_compacted"].wall_ms / 1000,
        "fold.term_stats_s": folded["term_stats_compacted"].wall_ms / 1000,
        "fold.defrag_s": (defrag["postings_defragged"].wall_ms / 1000
                          if defrag else 0.0),
        "fold.defrag_buckets": len(defrag.get("defragged_buckets", [])),
        "fold.first_query_ms": first_ms,
        "fold.bytes_written_per_delta_byte": (written - delta_bytes) / delta_bytes,
        "fold.stale_reads": len(sample_q),
        "fold.stale_read_failures": stale_fail,
    })
    if run.tracer.enabled:
        serve_layer(run, stats)
        run.layer.update({
            "serve.and_p50_ms": median(lat["and"]),
        })

    # -- correctness, outside every timed region
    oracle = OracleIndex(docs + delta_docs)
    qid0 = sample_q[0][0]
    why = same_answer(by_qid(first).get(qid0, []),
                      oracle_answer(oracle, sample_q[0][1], sample_q[0][2]))
    if why:
        run.ledger.fail("oracle", f"first answer q{qid0}: {why}")
    else:
        run.ledger.ok("oracle")
    check_against_oracle(run, oracle, stream, answers, sample, "oracle")
    for qid, got in stale_answers.items():
        if qid not in pre:
            continue
        why = same_answer(got, pre[qid])
        if why:
            run.ledger.fail("stale_answer", f"q{qid}: {why}")
        else:
            run.ledger.ok("stale_answer")


WORKLOADS = {"index": run_index, "ingest": run_ingest}
