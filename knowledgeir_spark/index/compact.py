"""Index compaction: fold streaming deltas into a new index generation.

Deltas produced by streaming/incremental.incremental_index are blocked
with the base's layout and term-hash buckets.  A fold turns the live
generation N plus every pending delta into generation N+1:

- postings: every bucket a pending delta touches is decoded (parent
  blocks and delta blocks together) and re-blocked through the build's
  writer; every untouched bucket is hardlinked from generation N;
- term_stats: generation N's (term, df, cf) plus the delta blocks'
  per-term sum(n_docs) / sum(sum_tf) — exact, because doc ids are
  append-only, so a delta doc is never already counted;
- field_stats.json: generation N's scalars plus each delta's
  delta_stats.json, and ``folded_deltas`` grows by the folded batches.

The generation rule: a committed generation is never rewritten.  The fold
writes N+1 through the StageManager with fingerprints that hold N and the
delta list, so a crashed fold resumes in its uncommitted directory, and
the one commit is the atomic replace of ``<index>/CURRENT``
(plans/lineage.commit_generation).  Before it, every reader sees N; after
it, new readers see N+1, while a reader pinned to N keeps its files until
the next commit drops N.  Delta dirs stay in place (an external janitor
may remove folded ones); re-running compact() only folds deltas missing
from the live generation's folded_deltas.

Append-only doc_id assumption (new crawl docs get new ids); re-crawled urls
should be deduped upstream before indexing.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lineage import (
    StageManager,
    commit_generation,
    generation_dir,
    generation_number,
    live_generation,
)
from .build import IndexConfig, term_stats_from_blocks, write_blocks
from .codec import decode_payload, delta_decode

_LONG_FORM = "doc_id long, term string, tf long, doc_len long"
# field_stats keys a delta must share with the generation it folds into
_LAYOUT = ("n_buckets", "block_size", "salt_range", "codec", "block_order",
           "tokenizer")


def decode_postings_df(blocks: DataFrame, codec: str = "varint") -> DataFrame:
    """Inverse of the block builder: block rows -> (doc_id, term, tf, doc_len)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_l, terms_l, tfs_l, dls_l = [], [], [], []
            for row in pdf.itertuples():
                n = int(row.n_docs)
                ids = delta_decode(decode_payload(bytes(row.doc_id_deltas), n, codec))
                tfs = decode_payload(bytes(row.tfs), n, codec)
                dls = decode_payload(bytes(row.doc_lens), n, codec)
                ids_l.append(ids.astype(np.int64))
                tfs_l.append(tfs.astype(np.int64))
                dls_l.append(dls.astype(np.int64))
                terms_l.extend([row.term] * n)
            if ids_l:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_l),
                        "term": terms_l,
                        "tf": np.concatenate(tfs_l),
                        "doc_len": np.concatenate(dls_l),
                    }
                )

    return blocks.select(
        "term", "n_docs", "doc_id_deltas", "tfs", "doc_lens"
    ).mapInPandas(run, _LONG_FORM)


def _link_untouched_buckets(src: str, dst_root: str, touched: set[int]) -> None:
    """Carry bucket partitions without delta rows into the new generation as
    hardlinks (copy fallback across filesystems) — no data rewrite.  On a
    real cluster this is the metadata-only partition carry-over of an
    Iceberg replacePartitions commit."""
    for bdir in sorted(glob.glob(os.path.join(src, "bucket=*"))):
        bid = int(os.path.basename(bdir).split("=", 1)[1])
        if bid in touched:
            continue
        dst = os.path.join(dst_root, os.path.basename(bdir))
        os.makedirs(dst, exist_ok=True)
        for fn in os.listdir(bdir):
            if not fn.endswith(".parquet"):
                continue
            try:
                os.link(os.path.join(bdir, fn), os.path.join(dst, fn))
            except OSError:
                shutil.copy2(os.path.join(bdir, fn), os.path.join(dst, fn))


def _dir_bytes_local(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def compact(
    spark: SparkSession, index_dir: str, config: IndexConfig = IndexConfig(),
    mode: str = "merge", min_pending_deltas: int = 1, min_pending_bytes: int = 0,
) -> dict:
    """Fold the pending deltas/batch_* into a new generation and commit it
    (see the module docstring).  Returns {} when nothing is pending, else
    the "postings_compacted" and "term_stats_compacted" StageResults.

    mode: "merge" or "append", validated and otherwise ignored — both name
    the one fold path above.  It stays for callers written against the
    earlier API, where "append" linked delta files without re-blocking.

    Fold-batching policy (round-5 verdict item 2 — the drill measured a
    fixed ~60 s cost per fold, so folding every tiny batch caps sustained
    ingest at ~130 docs/s): the fold is DEFERRED (no-op returning
    {"deferred": ...}) while fewer than ``min_pending_deltas`` deltas AND
    fewer than ``min_pending_bytes`` delta bytes are pending.  Defaults
    fold on every call.  Trade-off: docs in a deferred delta are not yet
    queryable, so time-to-queryable is bounded by (min_pending_deltas x
    batch interval) — pick the knob from the freshness SLA.
    """
    if mode not in ("merge", "append"):
        raise ValueError(f"unknown compaction mode {mode!r}")
    parent = live_generation(index_dir)
    with open(os.path.join(parent, "field_stats.json")) as f:
        fs = json.load(f)
    folded = set(fs.get("folded_deltas", []))

    all_deltas = sorted(glob.glob(os.path.join(index_dir, "deltas", "batch_*")))
    pending = [d for d in all_deltas if os.path.basename(d) not in folded]
    if not pending:
        return {}
    if min_pending_deltas > 1 or min_pending_bytes > 0:
        pending_bytes = sum(_dir_bytes_local(d) for d in pending)
        # fold when EITHER enabled threshold is reached; defer otherwise
        if (
            len(pending) < min_pending_deltas
            and (min_pending_bytes <= 0 or pending_bytes < min_pending_bytes)
        ):
            return {
                "deferred": True,
                "pending_deltas": len(pending),
                "pending_bytes": pending_bytes,
            }
    differs = [k for k in _LAYOUT if fs.get(k) != getattr(config, k)]
    if differs:
        raise ValueError(
            f"config differs from the index layout in {differs}; "
            "rebuild with build_index"
        )

    touched = sorted({
        int(os.path.basename(p).split("=", 1)[1])
        for d in pending
        for p in glob.glob(os.path.join(d, "bucket=*"))
    })
    names = [os.path.basename(d) for d in pending]
    n = generation_number(parent)
    conf = {"parent": n, "deltas": names, "touched_buckets": touched,
            **config.fingerprint_dict()}
    child = generation_dir(index_dir, n + 1)
    mgr = StageManager(child)
    parent_postings = os.path.join(parent, "postings")
    delta_blocks = reduce(DataFrame.unionByName,
                          [spark.read.parquet(d) for d in pending])

    def write_postings(tmp: str):
        base = spark.read.parquet(parent_postings).filter(
            F.col("bucket").isin(touched)
        )
        long_form = decode_postings_df(
            base.unionByName(delta_blocks), config.codec
        )
        write_blocks(long_form, config, tmp)
        _link_untouched_buckets(parent_postings, tmp, set(touched))

    def write_term_stats(tmp: str):
        parent_stats = spark.read.parquet(os.path.join(parent, "term_stats"))
        term_stats_from_blocks(
            parent_stats.select(
                "term", F.col("df").alias("n_docs"), F.col("cf").alias("sum_tf")
            ).unionByName(delta_blocks.select("term", "n_docs", "sum_tf"))
        ).write.parquet(tmp)

    results = {
        "postings_compacted": mgr.run("postings", conf, write_postings),
        "term_stats_compacted": mgr.run("term_stats", conf, write_term_stats),
    }
    if not mgr.is_json_committed("field_stats", conf):
        for d in pending:
            with open(os.path.join(d, "delta_stats.json")) as f:
                ds = json.load(f)
            fs["n_docs"] += ds["n_docs"]
            fs["total_len"] += ds["total_len"]
        fs["avg_doc_len"] = fs["total_len"] / fs["n_docs"] if fs["n_docs"] else 0.0
        fs["folded_deltas"] = sorted(folded | set(names))
        mgr.put_json("field_stats", conf, fs)
    commit_generation(index_dir, child)
    return results
