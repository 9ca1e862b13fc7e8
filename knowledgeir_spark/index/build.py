"""Distributed inverted-index build (north_rule core).

Pipeline (each stage an idempotent lineage-tracked commit, plans/lineage.py):

  docs(doc_id, text)
    --[map-only: Arrow tokenize+count, functions/text.doc_terms]-->
  doc_terms(doc_id, term, tf, doc_len)                       [stage 1]
    --[salt = doc_id // salt_range; bucket = md5(term) % n_buckets;
       repartition(term, salt) + sortWithinPartitions(term, salt, doc_id);
       mapInPandas block encoder]-->
  gen-<N>/postings(bucket=*/...)                             [stage 2]
  gen-<N>/term_stats(term, df, cf)                           [stage 3]
  gen-<N>/field_stats.json {n_docs, total_len, avg_doc_len}  [stage 4]
  CURRENT = "gen-<N>"                                        [commit]

Stages 2-4 form one immutable generation; writing CURRENT (an atomic
rename) is the commit, and readers resolve it once (plans/lineage.py).

Skew strategy: the salt is a CONTIGUOUS doc_id range bucket, not a random
hash — so (a) a Zipf head term (df ~ n_docs) is split across ~n_docs/salt_range
groups, bounding every shuffle group to salt_range postings; (b) each
(term, salt) group covers a disjoint sorted doc range, so partial posting
blocks need NO re-merge: global posting order is (salt asc, block asc), and
query-time just sorts blocks by first_doc_id.  Tail terms (df << salt_range)
usually live in few salts, costing only a handful of extra block rows.
Catalyst/AQE does not salt aggregations by itself (SURVEY.md §4) — this is
the engine's custom physical strategy.

The bucket partition column gives query-time partition pruning: a query
touches <= |q| buckets out of n_buckets.

Doc ids: callers with natural int64 ids pass them through; url-keyed input
uses operators/ids.assign_doc_ids (deterministic dense ids).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import doc_terms
from ..plans.lineage import (
    StageManager,
    StageResult,
    commit_generation,
    generation_dir,
    generation_number,
    live_generation,
)
from .codec import BLOCK_SIZE, encode_block


@dataclass(frozen=True)
class IndexConfig:
    block_size: int = BLOCK_SIZE
    salt_range: int = 1 << 20      # docs per salt bucket (contiguous ranges)
    n_buckets: int = 32            # term-hash partition dirs (query pruning)
    build_partitions: int | None = None  # shuffle width; None -> session default
    tokenizer: str = "spec"        # "spec" (engine v1) | "simple" (SQL-parity)
    codec: str = "varint"          # posting payload codec: "varint" | "pfor"
    # "docid": blocks = contiguous doc_id runs (disjoint per-block id
    # ranges; enables decode-level WAND).  "impact": within each (term,
    # salt) group postings are BUCKETED into blocks by descending tf first
    # (block 0 = the group's top-tf postings), then each block re-sorted by
    # doc_id for delta coding — block score bounds become strictly
    # discriminative on Zipf corpora, so the serving top-k cut stops after
    # a few blocks where doc-ordered 128-blocks all share the head tf.
    block_order: str = "docid"     # "docid" | "impact"

    def fingerprint_dict(self) -> dict:
        return asdict(self)


# what the block ENCODERS emit; `bucket` is appended afterwards from the
# block rows (term_bucket_expr over ~1/25 the rows — hashing every long-form
# posting cost ~16s of an 82M-row scan stage)
ENCODER_SCHEMA = (
    "term string, salt long, block_id int, n_docs int, "
    "first_doc_id long, max_doc_id long, max_tf int, min_doc_len int, "
    "doc_id_deltas binary, tfs binary, doc_lens binary, sum_tf long"
)
POSTINGS_SCHEMA = f"bucket int, {ENCODER_SCHEMA}"


def choose_salt_range(n_docs: int, parallelism: int,
                      min_range: int = 1024, max_range: int = 1 << 20) -> int:
    """Size the contiguous doc-id salt range so a Zipf head term
    (df ~ n_docs) splits into ~4x `parallelism` groups (good balance) while
    every shuffle group stays <= salt_range postings (bounded memory).
    Clamped: below 1024 the per-group overhead dominates; above 2^20 a
    single group's decode buffer gets large.  At 10^12 docs with ~10^4 cores
    this lands on the max (2^20 ~ 1M postings ~ 2-4MB per group)."""
    target = n_docs // max(4 * parallelism, 1) or 1
    return int(min(max(target, min_range), max_range))


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Portable term -> bucket hash (computable without Spark at query time)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def term_bucket_expr(term: Column, n_buckets: int) -> Column:
    """JVM-side equivalent of term_bucket_py (md5 hex prefix, base-16 parse)."""
    return F.pmod(
        F.conv(F.substring(F.md5(term.cast("binary")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def _impact_reorder(pdf: pd.DataFrame, block_size: int) -> pd.DataFrame:
    """Impact-ordered block assignment (block_order="impact"): within each
    (term, salt) group — input rows sorted by (term, salt, doc_id) — assign
    postings to blocks by DESCENDING tf (ties: doc_id asc, deterministic),
    then re-sort each block by doc_id so the delta codec still sees
    ascending ids.  Group extents and block sizes are unchanged, so the
    downstream change-detection encoder emits the same block count with the
    same (term, salt, block_id) keys — only membership differs.  A doc
    still appears in exactly one block per term; only block METADATA
    sharpens (block 0 carries the group's max tf, later blocks strictly
    lower), which is what makes the serving bound-cut discriminative."""
    terms = pdf["term"].to_numpy()
    salts = pdf["salt"].to_numpy(np.int64)
    ids = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    n = len(pdf)
    new_grp = np.ones(n, dtype=bool)
    new_grp[1:] = (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])
    grp_id = np.cumsum(new_grp) - 1
    order = np.lexsort((ids, -tfs, grp_id))  # grp asc, tf desc, id asc
    grp_sorted = grp_id[order]
    starts = np.flatnonzero(np.r_[True, grp_sorted[1:] != grp_sorted[:-1]])
    sizes = np.diff(np.append(starts, n))
    offs = np.arange(n, dtype=np.int64) - np.repeat(starts, sizes)
    blk = offs // block_size
    order2 = np.lexsort((ids[order], blk, grp_sorted))
    return pdf.iloc[order[order2]].reset_index(drop=True)


def _make_block_builder(
    block_size: int, codec: str = "varint", block_order: str = "docid"
):
    """mapInPandas fn: partition rows sorted by (term, salt, doc_id) ->
    posting-block rows.  Streams Arrow batches with a carry buffer so a
    (term, salt) group spanning batch boundaries is encoded exactly once;
    memory is bounded by max group size (<= salt_range postings) + one batch.
    block_order="impact" re-buckets each group's postings into blocks by
    descending tf before encoding (see _impact_reorder).
    """

    def encode_groups_slow(pdf: pd.DataFrame) -> list[dict]:
        """Per-block encode via pandas groupby — reference path, used for
        self-delimiting codecs (pfor) and as the cross-test oracle for the
        vectorized varint path below."""
        rows = []
        for (term, salt), g in pdf.groupby(["term", "salt"], sort=False):
            ids = g["doc_id"].to_numpy(np.int64).astype(np.uint64)
            tfs = g["tf"].to_numpy(np.int64).astype(np.uint64)
            dls = g["doc_len"].to_numpy(np.int64).astype(np.uint64)
            for bi, start in enumerate(range(0, len(ids), block_size)):
                blk = encode_block(
                    ids[start : start + block_size],
                    tfs[start : start + block_size],
                    dls[start : start + block_size],
                    codec=codec,
                )
                blk.update(
                    term=term, salt=int(salt), block_id=bi,
                    sum_tf=int(tfs[start : start + block_size].sum()),
                )
                rows.append(blk)
        return rows

    def encode_groups_varint(pdf: pd.DataFrame) -> pd.DataFrame:
        """Whole-partition vectorized encoder (varint only): group/block
        boundaries by change detection on the SORTED (term, salt) columns,
        deltas with per-block absolute resets, then ONE varint encode per
        stream sliced at block byte offsets — byte-identical to the
        per-block path (tested) at ~5x less Python overhead, which is the
        postings stage's hot loop."""
        from .codec import varint_encode_with_offsets

        terms = pdf["term"].to_numpy()
        salts = pdf["salt"].to_numpy(np.int64)
        ids = pdf["doc_id"].to_numpy(np.int64).astype(np.uint64)
        tfs = pdf["tf"].to_numpy(np.int64).astype(np.uint64)
        dls = pdf["doc_len"].to_numpy(np.int64).astype(np.uint64)
        n = len(ids)
        new_grp = np.ones(n, dtype=bool)
        new_grp[1:] = (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])
        grp_starts = np.flatnonzero(new_grp)
        sizes = np.diff(np.append(grp_starts, n))
        offs = np.arange(n, dtype=np.int64) - np.repeat(grp_starts, sizes)
        blk_starts = np.flatnonzero(offs % block_size == 0)
        blk_ends = np.append(blk_starts[1:], n)
        deltas = ids.copy()
        deltas[1:] -= ids[:-1]
        deltas[blk_starts] = ids[blk_starts]
        d_bytes, d_off = varint_encode_with_offsets(deltas)
        t_bytes, t_off = varint_encode_with_offsets(tfs)
        l_bytes, l_off = varint_encode_with_offsets(dls)
        last = blk_ends - 1
        return pd.DataFrame(
            {
                "term": terms[blk_starts],
                "salt": salts[blk_starts],
                "block_id": (offs[blk_starts] // block_size).astype(np.int32),
                "n_docs": (blk_ends - blk_starts).astype(np.int32),
                "first_doc_id": ids[blk_starts].astype(np.int64),
                "max_doc_id": ids[last].astype(np.int64),
                "max_tf": np.maximum.reduceat(tfs, blk_starts).astype(np.int32),
                "min_doc_len": np.minimum.reduceat(dls, blk_starts).astype(np.int32),
                "doc_id_deltas": [
                    d_bytes[d_off[s]:d_off[e]] for s, e in zip(blk_starts, blk_ends)
                ],
                "tfs": [
                    t_bytes[t_off[s]:t_off[e]] for s, e in zip(blk_starts, blk_ends)
                ],
                "doc_lens": [
                    l_bytes[l_off[s]:l_off[e]] for s, e in zip(blk_starts, blk_ends)
                ],
                "sum_tf": np.add.reduceat(
                    tfs.astype(np.int64), blk_starts
                ).astype(np.int64),
            }
        )

    def encode_groups(pdf: pd.DataFrame):
        if block_order == "impact":
            pdf = _impact_reorder(pdf, block_size)
        if codec == "varint":
            out = encode_groups_varint(pdf)
            return out if len(out) else None
        rows = encode_groups_slow(pdf)
        return pd.DataFrame(rows)[cols] if rows else None

    cols = [
        "term", "salt", "block_id", "n_docs", "first_doc_id",
        "max_doc_id", "max_tf", "min_doc_len", "doc_id_deltas", "tfs",
        "doc_lens", "sum_tf",
    ]

    def builder(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_term = pdf["term"].iat[-1]
            last_salt = pdf["salt"].iat[-1]
            suffix = (pdf["term"].values == last_term) & (
                pdf["salt"].values == last_salt
            )
            first_idx = int(np.flatnonzero(suffix)[0])
            carry = pdf.iloc[first_idx:]
            head = pdf.iloc[:first_idx]
            if len(head):
                out = encode_groups(head)
                if out is not None:
                    yield out[cols]
        if carry is not None and len(carry):
            out = encode_groups(carry)
            if out is not None:
                yield out[cols]

    return builder


def _make_block_builder_arrow(block_size: int):
    """mapInArrow twin of the varint/docid block builder — byte-identical
    output (cross-tested), ~3x less Python-boundary cost.

    The pandas path materializes every posting's term as a Python string
    object just to detect group boundaries (measured: a one-column pandas
    passthrough costs 3.5s on an 8M-row shuffle whose JVM side is 1.9s).
    Here the term column stays an Arrow array end to end: boundary
    detection is an Arrow compute kernel over shifted slices, the numeric
    columns are zero-copy numpy views, block terms come out via take(), and
    the three varint payload columns are built by RE-SLICING the single
    encoded stream with a per-block offsets array over the same buffer
    (pyarrow.Array.from_buffers — no per-block byte copies at all)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codec import varint_encode_with_offsets

    def _payload_col(data: bytes, val_off: np.ndarray,
                     blk_bounds: np.ndarray) -> "pa.Array":
        # arrow binary layout == one data buffer + int32 offsets; block i
        # spans values [blk_bounds[i], blk_bounds[i+1]) of the stream
        offs = val_off[blk_bounds].astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(blk_bounds) - 1,
            [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)],
        )

    def encode_table(tbl: "pa.Table") -> "pa.RecordBatch":
        n = tbl.num_rows
        terms = tbl["term"].combine_chunks()
        salts = tbl["salt"].to_numpy()
        ids = tbl["doc_id"].to_numpy().astype(np.uint64)
        tfs = tbl["tf"].to_numpy().astype(np.uint64)
        dls = tbl["doc_len"].to_numpy().astype(np.uint64)
        new_grp = np.ones(n, dtype=bool)
        if n > 1:
            t_neq = pc.not_equal(
                terms.slice(1), terms.slice(0, n - 1)
            ).to_numpy(zero_copy_only=False)
            new_grp[1:] = t_neq | (salts[1:] != salts[:-1])
        grp_starts = np.flatnonzero(new_grp)
        sizes = np.diff(np.append(grp_starts, n))
        offs = np.arange(n, dtype=np.int64) - np.repeat(grp_starts, sizes)
        blk_starts = np.flatnonzero(offs % block_size == 0)
        blk_ends = np.append(blk_starts[1:], n)
        blk_bounds = np.append(blk_starts, n)
        deltas = ids.copy()
        deltas[1:] -= ids[:-1]
        deltas[blk_starts] = ids[blk_starts]
        d_bytes, d_off = varint_encode_with_offsets(deltas)
        t_bytes, t_off = varint_encode_with_offsets(tfs)
        l_bytes, l_off = varint_encode_with_offsets(dls)
        last = blk_ends - 1
        idx = pa.array(blk_starts)
        return pa.RecordBatch.from_arrays(
            [
                pc.take(terms, idx),
                pa.array(salts[blk_starts].astype(np.int64)),
                pa.array((offs[blk_starts] // block_size).astype(np.int32)),
                pa.array((blk_ends - blk_starts).astype(np.int32)),
                pa.array(ids[blk_starts].astype(np.int64)),
                pa.array(ids[last].astype(np.int64)),
                pa.array(np.maximum.reduceat(tfs, blk_starts).astype(np.int32)),
                pa.array(np.minimum.reduceat(dls, blk_starts).astype(np.int32)),
                _payload_col(d_bytes, d_off, blk_bounds),
                _payload_col(t_bytes, t_off, blk_bounds),
                _payload_col(l_bytes, l_off, blk_bounds),
                pa.array(np.add.reduceat(
                    tfs.astype(np.int64), blk_starts).astype(np.int64)),
            ],
            names=[
                "term", "salt", "block_id", "n_docs",
                "first_doc_id", "max_doc_id", "max_tf", "min_doc_len",
                "doc_id_deltas", "tfs", "doc_lens", "sum_tf",
            ],
        )

    def builder(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        carry: "pa.Table | None" = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if carry is not None and carry.num_rows:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            n = tbl.num_rows
            if not n:
                continue
            # split off the (possibly batch-spanning) last (term, salt) group
            terms = tbl["term"].combine_chunks()
            salts = tbl["salt"].to_numpy()
            if n > 1:
                t_neq = pc.not_equal(
                    terms.slice(1), terms.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False)
                changed = np.flatnonzero(t_neq | (salts[1:] != salts[:-1]))
                last_start = int(changed[-1]) + 1 if len(changed) else 0
            else:
                last_start = 0
            carry = tbl.slice(last_start)
            if last_start:
                yield encode_table(tbl.slice(0, last_start))
        if carry is not None and carry.num_rows:
            yield encode_table(carry)

    return builder


def apply_block_encoder(sorted_df: DataFrame, config: IndexConfig) -> DataFrame:
    """Partition rows sorted by (term, salt, doc_id) -> posting-block rows
    (POSTINGS_SCHEMA), choosing the Arrow-native builder for the default
    varint/docid layout and the pandas builder for the pfor /
    impact-ordered variants.  The term-hash `bucket` is computed HERE, on
    the ~1/25-sized block rows, not per posting."""
    if config.codec == "varint" and config.block_order == "docid":
        encoded = sorted_df.mapInArrow(
            _make_block_builder_arrow(config.block_size), ENCODER_SCHEMA
        )
    else:
        encoded = sorted_df.mapInPandas(
            _make_block_builder(config.block_size, config.codec,
                                config.block_order),
            ENCODER_SCHEMA,
        )
    return encoded.withColumn(
        "bucket", term_bucket_expr(F.col("term"), config.n_buckets)
    )


def write_blocks(long_form: DataFrame, config: IndexConfig, path: str) -> None:
    """The one salted block writer: long-form (doc_id, term, tf, doc_len)
    rows -> posting blocks at path/bucket=<b>/, one term-sorted file per
    bucket.  The build, the streaming delta writer and the fold all call
    it, so every generation has the same file layout."""
    spark = long_form.sparkSession
    parts = config.build_partitions or spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    # the configured width is a data-sized floor (spill bound); never run
    # the encode stage below the session's core count — a 16-partition
    # shuffle on 32 cores leaves half the Python encoders idle
    parts = max(int(parts), spark.sparkContext.defaultParallelism)
    salted = long_form.select(
        "doc_id", "term",
        # narrower types across the exchange and the Python boundary
        # (guide §2.3): tf / doc_len are per-doc token counts, always
        # int32-safe; the encoder widens back to uint64 so the varint
        # payloads are byte-identical
        F.col("tf").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
        (F.col("doc_id") / config.salt_range).cast("long").alias("salt"),
    )
    (
        apply_block_encoder(
            salted.repartition(parts, "term", "salt")
            .sortWithinPartitions("term", "salt", "doc_id"),
            config,
        )
        # block rows are ~1/100 the size of the long-form postings, so a
        # second (cheap) exchange by bucket keeps the file count at
        # ~n_buckets instead of shuffle_partitions x n_buckets tiny files;
        # sorting by term inside each bucket file gives parquet row-group
        # min/max stats that let a query skip non-matching row groups; the
        # leading bucket key is the order partitionBy needs, so Spark adds
        # no sort of its own that would undo the term order
        .repartition(config.n_buckets, "bucket")
        .sortWithinPartitions("bucket", "term", "salt", "block_id")
        .write.partitionBy("bucket")
        .parquet(path)
    )


def term_stats_from_blocks(blocks: DataFrame) -> DataFrame:
    """(term, df, cf) from block METADATA (sum of per-block n_docs /
    sum_tf): ~1/25 the rows of the long form for identical values, since
    every doc-term posting lands in exactly one block."""
    return blocks.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
    )


def build_index(
    spark: SparkSession,
    docs_df: DataFrame,
    index_dir: str,
    config: IndexConfig = IndexConfig(),
    input_token: str = "",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, StageResult]:
    """Build (or resume) the full index at index_dir.  Returns stage results
    (each .skipped tells whether the committed snapshot was reused).

    doc_terms stays at the index root; postings, term_stats and
    field_stats go to a new generation that CURRENT names once all three
    are committed.  A re-run whose live generation came from this same
    build is a no-op; a crashed build resumes in its uncommitted
    generation."""
    root = StageManager(index_dir)
    # format 2 = sum_tf block column (round 6); bumping the fingerprint keeps
    # resume from ever pairing new term_stats code with an old snapshot
    conf = {"input": input_token, "format": 2, **config.fingerprint_dict()}
    results: dict[str, StageResult] = {}

    # stage 1: long-form doc terms (map-only tokenize+TF)
    def write_doc_terms(tmp: str):
        dt = doc_terms(
            docs_df, text_col=text_col, id_col=id_col,
            simple=(config.tokenizer == "simple"),
        )
        if id_col != "doc_id":
            dt = dt.withColumnRenamed(id_col, "doc_id")
        dt.write.parquet(tmp)

    results["doc_terms"] = root.run("doc_terms", conf, write_doc_terms)
    dt = spark.read.parquet(root.stage_path("doc_terms"))

    try:
        gen = live_generation(index_dir)
        if not StageManager(gen).is_json_committed("field_stats", conf):
            gen = generation_dir(index_dir, generation_number(gen) + 1)
    except FileNotFoundError:
        gen = generation_dir(index_dir, 0)
    mgr = StageManager(gen)

    # stage 2: salted block build
    results["postings"] = mgr.run(
        "postings", conf, lambda tmp: write_blocks(dt, config, tmp)
    )

    # stage 3: term stats (df = distinct docs, cf = collection tf)
    blocks = spark.read.parquet(mgr.stage_path("postings"))
    results["term_stats"] = mgr.run(
        "term_stats", conf,
        lambda tmp: term_stats_from_blocks(blocks).write.parquet(tmp),
    )

    # stage 4: field-level scalars (computed over ALL docs incl. empty);
    # total_len = sum of collection tf = sum(cf) over the (small) term_stats
    # table — the long form is never re-scanned
    if not mgr.is_json_committed("field_stats", conf):
        n_docs = docs_df.count()
        ts = spark.read.parquet(mgr.stage_path("term_stats"))
        row = ts.agg(F.sum("cf").alias("total_len")).collect()[0]
        total_len = int(row["total_len"] or 0)
        mgr.put_json(
            "field_stats", conf,
            {
                "n_docs": n_docs,
                "total_len": total_len,
                "avg_doc_len": (total_len / n_docs) if n_docs else 0.0,
                "n_buckets": config.n_buckets,
                "block_size": config.block_size,
                "salt_range": config.salt_range,
                "codec": config.codec,
                "block_order": config.block_order,
                "tokenizer": config.tokenizer,
            },
        )
    commit_generation(index_dir, gen)
    return results
