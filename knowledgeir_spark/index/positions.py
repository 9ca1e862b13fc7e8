"""Optional positional store: per-(term, doc) token positions beside the
posting index.

Layout: ``index_dir/positions/bucket=<b>/*.parquet`` with columns
``(term string, doc_id long, positions array<long>)`` — 0-based offsets in
the INDEXED token stream (i.e. post-tokenizer, post-stopword for the
'spec' tokenizer), ascending.  Bucket = the same term-hash bucket as the
postings, so a phrase query's verification reads only its terms' buckets
filtered to the conjunctive candidates (pyarrow predicate pushdown on
bucket + term + doc_id).

This is the middle point of the classic design space:

- docstore verify (index/docstore.py): zero extra index bytes, but phase 2
  re-tokenizes candidate documents;
- positions-in-postings: cheapest verify, but every non-phrase query pays
  the fatter posting blocks;
- positions store (here): positional bytes are isolated in their own
  column family — non-phrase queries never touch them, phrase verify is
  a pruned columnar read plus vectorized offset intersection, and the
  store can be built/compacted independently of the postings.

Build is one map-only tokenize + posexplode and ONE shuffle (groupBy
(term, doc_id)), partitioned by the term bucket on write — the same scale
shape as the posting build's stage 1-2.

Engine addition: the reference delegates retrieval (and therefore phrase
handling) to Indri/ES — setup.py:23.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize_expr, tokenize_simple_expr
from ..plans.lineage import live_generation
from .build import term_bucket_expr, term_bucket_py


def write_positions_store(
    docs: DataFrame,
    index_dir: str,
    tokenizer: str | None = None,
    n_buckets: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Writes the bucket-partitioned positions store; returns its path.

    tokenizer / n_buckets default to the index's live field_stats so the
    position space and bucket pruning line up with the postings; an
    index_dir without a committed index raises FileNotFoundError."""
    with open(os.path.join(live_generation(index_dir), "field_stats.json")) as f:
        fs = json.load(f)
    tokenizer = tokenizer or fs["tokenizer"]
    n_buckets = n_buckets or int(fs["n_buckets"])

    toks = (
        tokenize_simple_expr(F.col(text_col))
        if tokenizer == "simple"
        else tokenize_expr(F.col(text_col))
    )
    path = os.path.join(index_dir, "positions")
    (
        docs.select(F.col(id_col).cast("long").alias("doc_id"), toks.alias("t"))
        .select("doc_id", F.posexplode("t").alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn("bucket", term_bucket_expr(F.col("term"), n_buckets))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    with open(os.path.join(path, "_positions.json"), "w") as f:
        json.dump({"n_buckets": n_buckets, "tokenizer": tokenizer}, f)
    return path


class PositionsStore:
    """Pruned reader over the positions partition layout."""

    def __init__(self, index_dir: str):
        self.path = os.path.join(index_dir, "positions")
        with open(os.path.join(self.path, "_positions.json")) as f:
            meta = json.load(f)
        self.n_buckets = int(meta["n_buckets"])
        self.tokenizer = meta.get("tokenizer", "spec")
        self._ds = None

    def _dataset(self):
        import pyarrow.dataset as ds

        if self._ds is None:
            self._ds = ds.dataset(self.path, partitioning="hive")
        return self._ds

    def positions_for(
        self, terms: list[str], doc_ids: list[int]
    ) -> dict[tuple[str, int], np.ndarray]:
        """{(term, doc_id): ascending position array} for the requested
        slice — bucket + term + doc_id pushdown, one columnar read."""
        import pyarrow.dataset as ds

        terms = sorted(set(terms))
        ids = sorted(set(int(d) for d in doc_ids))
        if not terms or not ids:
            return {}
        buckets = sorted({term_bucket_py(t, self.n_buckets) for t in terms})
        filt = (
            ds.field("bucket").isin(buckets)
            & ds.field("term").isin(terms)
            & ds.field("doc_id").isin(ids)
        )
        tbl = self._dataset().to_table(
            filter=filt, columns=["term", "doc_id", "positions"]
        )
        return {
            (t, int(d)): np.asarray(p, dtype=np.int64)
            for t, d, p in zip(
                tbl["term"].to_pylist(),
                tbl["doc_id"].to_pylist(),
                tbl["positions"].to_pylist(),
            )
        }


def phrase_match(
    pos_map: dict[tuple[str, int], np.ndarray],
    phrase: list[str],
    doc_id: int,
) -> bool:
    """True iff the phrase tokens occur CONSECUTIVELY in doc_id's indexed
    token stream: a start position p must satisfy p + i in positions of
    phrase[i] for every i — vectorized offset intersection, repeated terms
    handled naturally ('join join batch' needs p, p+1 in pos('join'))."""
    starts = pos_map.get((phrase[0], doc_id))
    if starts is None:
        return False
    cur = starts
    for i, t in enumerate(phrase[1:], start=1):
        nxt = pos_map.get((t, doc_id))
        if nxt is None:
            return False
        cur = cur[np.isin(cur + i, nxt, assume_unique=True)]
        if not len(cur):
            return False
    return True
