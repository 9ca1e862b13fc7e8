"""End-to-end spark-submit --py-files smoke (the north_rule launch shape):
zip the package, build an index, answer queries, check the TREC run against
the oracle."""

from __future__ import annotations

import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.slow
def test_spark_submit_build_and_query(tmp_path, webpages_pdf):
    from knowledgeir_spark.oracle.index import OracleIndex

    zip_path = tmp_path / "kir.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in (REPO / "knowledgeir_spark").rglob("*.py"):
            z.write(f, f.relative_to(REPO))

    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs_path = tmp_path / "docs.parquet"
    pdf[["doc_id", "url", "text"]].to_parquet(docs_path)
    queries = [("1", "the data spark"), ("2", "w0044 index")]
    qfile = tmp_path / "queries.tsv"
    qfile.write_text("".join(f"{q}\t{t}\n" for q, t in queries))

    def submit(script, *args):
        subprocess.run(
            [
                "spark-submit", "--master", "local[4]",
                "--py-files", str(zip_path), str(REPO / "scripts" / script),
                *args,
            ],
            check=True, capture_output=True, text=True, timeout=300,
        )

    idx = tmp_path / "idx"
    submit(
        "build_index.py", "--input", str(docs_path), "--output", str(idx),
        "--n-buckets", "4",
    )
    gen = (idx / "CURRENT").read_text().strip()
    assert (idx / gen / "field_stats.json").exists()
    out = tmp_path / "run.trec"
    submit(
        "query_index.py", "--index", str(idx), "--queries", str(qfile),
        "--k", "5", "--out", str(out),
    )
    lines = []
    for f in sorted(out.glob("part-*")):
        lines += f.read_text().splitlines()
    got: dict[str, list[int]] = {}
    for ln in lines:
        parts = ln.split()
        got.setdefault(parts[0], []).append(int(parts[2]))
    oracle = OracleIndex(list(zip(pdf["doc_id"], pdf["text"])))
    for qid, qtext in queries:
        assert got[qid] == [d for d, _ in oracle.topk(qtext, k=5)], qid
