"""Index lifecycle: base build -> streaming deltas -> compaction -> queries
rank-identical to a from-scratch oracle over the UNION corpus; readers
pinned to a generation across folds; the CURRENT commit point under
injected crashes."""

from __future__ import annotations

import json
import os

import pytest

from knowledgeir_spark.index.build import IndexConfig, build_index
from knowledgeir_spark.index.compact import compact, decode_postings_df
from knowledgeir_spark.index.query import IndexReader
from knowledgeir_spark.oracle.index import OracleIndex
from knowledgeir_spark.plans.lineage import live_generation
from knowledgeir_spark.streaming.incremental import incremental_index

CFG = IndexConfig(block_size=16, salt_range=64, n_buckets=4, build_partitions=4)


def _live(idx_dir: str, part: str) -> str:
    return os.path.join(live_generation(idx_dir), part)


def _field_stats(idx_dir: str) -> dict:
    with open(_live(idx_dir, "field_stats.json")) as f:
        return json.load(f)


def _generations(idx_dir: str) -> list[str]:
    return sorted(d for d in os.listdir(idx_dir) if d.startswith("gen-"))


def test_compacted_index_equals_fresh_oracle(spark, webpages_pdf, tmp_path):
    idx_dir = str(tmp_path / "idx")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    base_pdf = pdf.iloc[:200]
    delta1 = pdf.iloc[200:250]
    delta2 = pdf.iloc[250:300]

    docs = spark.createDataFrame(base_pdf[["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base200")

    inp = str(tmp_path / "arrivals")
    schema = "doc_id long, text string"
    spark.createDataFrame(delta1[["doc_id", "text"]]).write.mode("append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    spark.createDataFrame(delta2[["doc_id", "text"]]).write.mode("append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)

    res = compact(spark, idx_dir, CFG)
    assert res and not any(r.skipped for r in res.values())

    # postings now cover all 300 docs; equality vs full oracle
    oracle = OracleIndex(list(zip(pdf["doc_id"], pdf["text"])))
    reader = IndexReader(spark, idx_dir)
    assert reader.field_stats["n_docs"] == 300
    assert reader.field_stats["avg_doc_len"] == pytest.approx(oracle.avg_doc_len, abs=1e-9)

    long_form = decode_postings_df(
        spark.read.parquet(_live(idx_dir, "postings"))
    ).collect()
    got: dict[str, list] = {}
    for r in long_form:
        got.setdefault(r["term"], []).append((r["doc_id"], r["tf"]))
    assert set(got) == set(oracle.postings)
    for t in got:
        assert sorted(got[t]) == sorted(oracle.postings[t]), t

    queries = [("1", "the data spark w0005"), ("2", "w0100 w0200"), ("3", "index")]
    for qid, qtext in queries:
        ranked = reader.search([(qid, qtext)], k=15).collect()
        expected = oracle.topk(qtext, k=15)
        assert [(r["doc_id"]) for r in sorted(ranked, key=lambda r: r["rank"])] == [
            d for d, _ in expected
        ], qtext
        for r in ranked:
            assert r["score"] == pytest.approx(dict(expected)[r["doc_id"]], abs=1e-6)


def test_compact_noop_without_deltas(spark, webpages_pdf, tmp_path):
    idx_dir = str(tmp_path / "idx2")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"}).iloc[:50]
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="t50")
    assert compact(spark, idx_dir, CFG) == {}


def test_compact_rerun_and_new_delta(spark, webpages_pdf, tmp_path):
    """Idempotency: a re-run after compaction is a no-op; a later delta folds
    only ITSELF (no re-union of already-folded deltas, no double-counted
    stats)."""
    idx_dir = str(tmp_path / "idx3")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:100][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base100")

    inp = str(tmp_path / "arr3")
    schema = "doc_id long, text string"
    spark.createDataFrame(pdf.iloc[100:140][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    assert compact(spark, idx_dir, CFG)

    fs1 = _field_stats(idx_dir)
    assert fs1["n_docs"] == 140 and len(fs1["folded_deltas"]) == 1
    # consumed deltas are recorded -> immediate re-run is a no-op
    assert compact(spark, idx_dir, CFG) == {}
    assert _field_stats(idx_dir) == fs1

    # a later delta folds alone on top of the compacted base
    spark.createDataFrame(pdf.iloc[140:170][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    assert compact(spark, idx_dir, CFG)
    fs2 = _field_stats(idx_dir)
    assert fs2["n_docs"] == 170 and len(fs2["folded_deltas"]) == 2

    oracle = OracleIndex(list(zip(pdf.iloc[:170]["doc_id"], pdf.iloc[:170]["text"])))
    long_form = decode_postings_df(
        spark.read.parquet(_live(idx_dir, "postings"))).collect()
    got: dict[str, list] = {}
    for r in long_form:
        got.setdefault(r["term"], []).append((r["doc_id"], r["tf"]))
    assert set(got) == set(oracle.postings)
    for t in got:
        assert sorted(got[t]) == sorted(oracle.postings[t]), t


def test_compact_recovers_stats_commit_crash(spark, webpages_pdf, tmp_path):
    """A lost commit (CURRENT rolled back one generation after a fold): the
    re-run folds the same delta onto the same parent, reuses the committed
    stages of the uncommitted generation and restores exact counts — the
    delta is never unioned twice."""
    idx_dir = str(tmp_path / "idx4")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:100][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base100")
    inp = str(tmp_path / "arr4")
    spark.createDataFrame(pdf.iloc[100:130][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, "doc_id long, text string", CFG)
    assert compact(spark, idx_dir, CFG)

    n_rows = spark.read.parquet(_live(idx_dir, "postings")).count()
    fs_good = _field_stats(idx_dir)
    with open(os.path.join(idx_dir, "CURRENT"), "w") as f:
        f.write("gen-0\n")
    assert _field_stats(idx_dir)["n_docs"] == 100

    res = compact(spark, idx_dir, CFG)  # recovery run
    assert res and all(r.skipped for r in res.values())
    assert _field_stats(idx_dir) == fs_good
    assert spark.read.parquet(_live(idx_dir, "postings")).count() == n_rows


def _build_with_one_delta(spark, webpages_pdf, tmp_path, tag):
    """base 100 docs + one 30-doc streaming delta, NOT yet compacted."""
    idx_dir = str(tmp_path / f"idx_{tag}")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:100][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base100")
    inp = str(tmp_path / f"arr_{tag}")
    spark.createDataFrame(pdf.iloc[100:130][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, "doc_id long, text string", CFG)
    return idx_dir, pdf.iloc[:130]


def _assert_matches_oracle(spark, idx_dir, corpus_pdf):
    """Postings AND term_stats exactly match a from-scratch oracle over the
    union corpus (catches both duplicated postings and stale df/cf)."""
    oracle = OracleIndex(list(zip(corpus_pdf["doc_id"], corpus_pdf["text"])))
    long_form = decode_postings_df(
        spark.read.parquet(_live(idx_dir, "postings"))).collect()
    got: dict[str, list] = {}
    for r in long_form:
        got.setdefault(r["term"], []).append((r["doc_id"], r["tf"]))
    assert set(got) == set(oracle.postings)
    for t in got:
        assert sorted(got[t]) == sorted(oracle.postings[t]), t
    stats = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(_live(idx_dir, "term_stats")).collect()
    }
    for t, plist in oracle.postings.items():
        assert stats[t] == (len(plist), sum(tf for _, tf in plist)), t


def test_compact_rewrites_only_touched_buckets(spark, webpages_pdf, tmp_path):
    """Per-bucket incremental merge: a delta touching one term-hash bucket
    must carry every other bucket's parquet files into the new generation
    physically intact (same inodes, hardlinks of the parent's files) while
    the merged index still matches a from-scratch oracle."""
    from knowledgeir_spark.index.build import term_bucket_py
    from knowledgeir_spark.plans.lineage import StageManager

    idx_dir = str(tmp_path / "idx_pb")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:100][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base100")

    # one new doc with a single novel term -> exactly one touched bucket
    term = "zqxjkvbn"
    tb = term_bucket_py(term, CFG.n_buckets)
    inp = str(tmp_path / "arr_pb")
    spark.createDataFrame(
        [(500, term)], "doc_id long, text string"
    ).write.mode("append").parquet(inp)
    incremental_index(spark, inp, idx_dir, "doc_id long, text string", CFG)

    def bucket_inodes(bucket: int) -> set[int]:
        d = os.path.join(_live(idx_dir, "postings"), f"bucket={bucket}")
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    pre = {b: bucket_inodes(b) for b in range(CFG.n_buckets) if b != tb}
    assert all(pre.values())  # every untouched bucket has base data

    assert compact(spark, idx_dir, CFG)

    assert live_generation(idx_dir).endswith("gen-1")
    m = StageManager(live_generation(idx_dir)).manifest("postings")
    assert m["config"]["touched_buckets"] == [tb]
    for b, inodes in pre.items():
        assert bucket_inodes(b) == inodes, f"bucket {b} was rewritten"

    corpus = list(zip(pdf.iloc[:100]["doc_id"], pdf.iloc[:100]["text"])) + [
        (500, term)
    ]
    import pandas as pd

    _assert_matches_oracle(
        spark, idx_dir, pd.DataFrame(corpus, columns=["doc_id", "text"])
    )


def test_append_compaction_equals_fresh_oracle(spark, webpages_pdf, tmp_path):
    """mode='append' is still accepted and names the same fold: the result
    matches a from-scratch oracle, answers queries rank-identically, and a
    later fold without the keyword composes with it."""
    idx_dir = str(tmp_path / "idx_app")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:200][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base200")

    inp = str(tmp_path / "arr_app")
    schema = "doc_id long, text string"
    spark.createDataFrame(pdf.iloc[200:250][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    spark.createDataFrame(pdf.iloc[250:300][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)

    with pytest.raises(ValueError, match="unknown compaction mode"):
        compact(spark, idx_dir, CFG, mode="defrag")
    res = compact(spark, idx_dir, CFG, mode="append")
    assert set(res) == {"postings_compacted", "term_stats_compacted"}
    assert not any(r.skipped for r in res.values())

    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:300])

    # idempotent re-run; queries rank-identical to the from-scratch oracle
    assert compact(spark, idx_dir, CFG, mode="append") == {}
    oracle = OracleIndex(list(zip(pdf.iloc[:300]["doc_id"],
                                  pdf.iloc[:300]["text"])))
    reader = IndexReader(spark, idx_dir)
    assert reader.field_stats["n_docs"] == 300
    for qid, qtext in [("1", "the data spark w0005"), ("2", "w0100 w0200")]:
        ranked = reader.search([(qid, qtext)], k=15).collect()
        expected = oracle.topk(qtext, k=15)
        assert [r["doc_id"] for r in sorted(ranked, key=lambda r: r["rank"])] \
            == [d for d, _ in expected], qtext
        for r in ranked:
            assert r["score"] == pytest.approx(dict(expected)[r["doc_id"]],
                                               abs=1e-6)

    extra = pdf.iloc[:50].copy()
    extra["doc_id"] = extra["doc_id"] + 1000
    spark.createDataFrame(extra[["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    assert compact(spark, idx_dir, CFG)
    full = list(zip(pdf.iloc[:300]["doc_id"], pdf.iloc[:300]["text"])) + list(
        zip(extra["doc_id"], extra["text"])
    )
    import pandas as pd

    _assert_matches_oracle(
        spark, idx_dir, pd.DataFrame(full, columns=["doc_id", "text"])
    )


def test_impact_layout_through_delta_lifecycle(spark, webpages_pdf, tmp_path):
    """block_order='impact' composes with the whole lifecycle: base build ->
    streaming delta -> fold -> second delta -> fold, and the result still
    matches the from-scratch oracle (the block writer threads
    config.block_order)."""
    from knowledgeir_spark.index.build import IndexConfig

    cfg = IndexConfig(**{**CFG.fingerprint_dict(), "block_order": "impact"})
    idx_dir = str(tmp_path / "idx_imp_life")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:150][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, cfg, input_token="base150i")

    inp = str(tmp_path / "arr_imp_life")
    schema = "doc_id long, text string"
    spark.createDataFrame(pdf.iloc[150:180][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, cfg)
    assert compact(spark, idx_dir, cfg)
    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:180])

    spark.createDataFrame(pdf.iloc[180:200][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, cfg)
    assert compact(spark, idx_dir, cfg)
    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:200])
    reader = IndexReader(spark, idx_dir)
    assert reader.block_order == "impact"


def test_append_fold_batching_policy(spark, webpages_pdf, tmp_path):
    """min_pending_deltas defers the fold until enough deltas accumulate
    (round-6 freshness-throughput knob); the deferred fold then lands all
    pending deltas in ONE pass and the result matches the from-scratch
    oracle."""
    idx_dir = str(tmp_path / "idx_batch")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:200][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base200b")

    inp = str(tmp_path / "arr_batch")
    schema = "doc_id long, text string"
    for lo, hi in ((200, 230), (230, 260)):
        spark.createDataFrame(pdf.iloc[lo:hi][["doc_id", "text"]]).write.mode(
            "append").parquet(inp)
        incremental_index(spark, inp, idx_dir, schema, CFG)
        res = compact(spark, idx_dir, CFG, min_pending_deltas=3)
        assert res.get("deferred") is True
    # third delta crosses the threshold -> one fold of all three
    spark.createDataFrame(pdf.iloc[260:300][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    res = compact(spark, idx_dir, CFG, min_pending_deltas=3)
    assert res and "deferred" not in res
    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:300])
    # idempotent + policy no-op afterwards
    assert compact(spark, idx_dir, CFG, min_pending_deltas=3) == {}


def _answers(reader, queries):
    """(search_local rows, search().collect() rows) per query, in rank
    order, with exact float scores."""
    local = {q: reader.search_local([(q, t)], k=10) for q, t in queries}
    dist = {
        q: sorted((r["rank"], r["doc_id"], r["score"])
                  for r in reader.search([(q, t)], k=10).collect())
        for q, t in queries
    }
    return local, dist


def test_reader_pinned_across_fold(spark, webpages_pdf, tmp_path):
    """A reader opened before a fold keeps answering from its generation —
    the same pre-fold top-k on the serving and the distributed path — while
    a fresh reader sees the fold and matches the union-corpus oracle."""
    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, "pin")
    queries = [("1", "the data spark w0005"), ("2", "w0100 w0200"),
               ("3", "index")]
    stale = IndexReader(spark, idx_dir)
    before = _answers(stale, queries)

    assert compact(spark, idx_dir, CFG)
    assert _answers(stale, queries) == before
    assert stale.field_stats["n_docs"] == 100

    fresh = IndexReader(spark, idx_dir)
    assert fresh.field_stats["n_docs"] == 130
    oracle = OracleIndex(list(zip(corpus["doc_id"], corpus["text"])))
    local, dist = _answers(fresh, queries)
    for qid, qtext in queries:
        expected = oracle.topk(qtext, k=10)
        assert [d for _, d, _ in dist[qid]] == [d for d, _ in expected], qtext
        assert [r[1] for r in local[qid]] == [d for d, _ in expected], qtext
        for _, d, score in dist[qid]:
            assert score == pytest.approx(dict(expected)[d], abs=1e-6)


@pytest.mark.parametrize("when", ["before", "after"])
def test_compact_crash_at_commit_point(
    spark, webpages_pdf, tmp_path, monkeypatch, when
):
    """A crash just before or just after the CURRENT replace leaves exactly
    the old or exactly the new generation live, and a re-run reaches the
    uninterrupted result without recomputing a committed stage."""
    import knowledgeir_spark.plans.lineage as lineage

    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, when)
    real_replace = os.replace

    def crash_at_commit(src, dst):
        if os.path.basename(dst) == "CURRENT":
            if when == "after":
                real_replace(src, dst)
            raise RuntimeError("simulated crash at the commit point")
        real_replace(src, dst)

    monkeypatch.setattr(lineage.os, "replace", crash_at_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact(spark, idx_dir, CFG)
    monkeypatch.undo()

    live = {"before": "gen-0", "after": "gen-1"}[when]
    assert os.path.basename(live_generation(idx_dir)) == live
    assert IndexReader(spark, idx_dir).field_stats["n_docs"] == (
        100 if when == "before" else 130
    )

    res = compact(spark, idx_dir, CFG)  # re-run
    if when == "before":
        assert res and all(r.skipped for r in res.values())
    else:
        assert res == {}
    assert os.path.basename(live_generation(idx_dir)) == "gen-1"
    assert _generations(idx_dir) == ["gen-0", "gen-1"]
    _assert_matches_oracle(spark, idx_dir, corpus)
    assert compact(spark, idx_dir, CFG) == {}


def test_three_folds_keep_two_generations(spark, webpages_pdf, tmp_path):
    """Retention keeps the live generation and its parent: after three folds
    only gen-2 and gen-3 remain, and a reader pinned to gen-2 still reads."""
    idx_dir = str(tmp_path / "idx_ret")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:100][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base100")
    inp = str(tmp_path / "arr_ret")
    schema = "doc_id long, text string"
    for lo in (100, 120, 140):
        if lo == 140:
            pinned = IndexReader(spark, idx_dir)
        spark.createDataFrame(pdf.iloc[lo:lo + 20][["doc_id", "text"]]).write \
            .mode("append").parquet(inp)
        incremental_index(spark, inp, idx_dir, schema, CFG)
        assert compact(spark, idx_dir, CFG)
    assert _generations(idx_dir) == ["gen-2", "gen-3"]
    assert os.path.basename(live_generation(idx_dir)) == "gen-3"
    assert pinned.field_stats["n_docs"] == 140
    assert pinned.search_local([("1", "index")], k=5)
    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:160])


def test_sidecars_require_committed_index(spark, webpages_pdf, tmp_path):
    """Sidecar builders read the tokenizer and bucket count of the live
    generation; without a CURRENT they raise instead of guessing."""
    from knowledgeir_spark.index.nextword import write_nextword_store
    from knowledgeir_spark.index.positions import write_positions_store

    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:20][["doc_id", "text"]])
    empty = str(tmp_path / "no_index")
    os.makedirs(empty)
    with pytest.raises(FileNotFoundError, match="CURRENT"):
        write_positions_store(docs, empty)
    with pytest.raises(FileNotFoundError, match="CURRENT"):
        write_nextword_store(docs, empty)
