"""Per-stage lineage manifests + idempotent commit/resume (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

The reference has no notion of this — each pipeline stage is a separate CLI
process writing files (SURVEY.md §3.1); a crash means manual cleanup.  The
engine's protocol (SURVEY.md §4 item 5):

  1. stage output is written to  <root>/<stage>.__tmp__   (Spark parquet)
  2. the tmp dir is atomically renamed to <root>/<stage>
  3. the manifest <root>/_lineage/<stage>.json is written LAST — its
     presence (with a matching config fingerprint) is the commit marker.

Resume = skip any stage whose manifest exists and matches the fingerprint.
A crash between (2) and (3) leaves a data dir without a manifest: the next
run deletes and recomputes it (idempotent).  On a real cluster the rename is
a metastore/Iceberg snapshot commit; the abstraction point is Stage.commit.

Per-file lineage (rows/bytes per output parquet file = per final partition)
is read back from parquet footers via pyarrow — no extra Spark job.

Index generations: the stages a reader consumes (postings, term_stats,
field_stats) live in an immutable ``<index>/gen-<N>/`` with its own
``_lineage/``.  ``<index>/CURRENT`` names the live generation, and an
``os.replace`` of that file is the index's only commit point; every
reader resolves it through ``live_generation``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

CURRENT = "CURRENT"
# the live generation and its parent: a reader pinned before a commit
# keeps its files through exactly one later commit
KEEP_GENERATIONS = 2
_GEN = re.compile(r"gen-(\d+)$")


def generation_dir(index_dir: str, n: int) -> str:
    return os.path.join(index_dir, f"gen-{n}")


def generation_number(gen_dir: str) -> int:
    return int(_GEN.match(os.path.basename(gen_dir)).group(1))


def live_generation(index_dir: str) -> str:
    """The directory of the generation ``<index_dir>/CURRENT`` names."""
    try:
        with open(os.path.join(index_dir, CURRENT)) as f:
            name = f.read().strip()
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{index_dir} holds no committed index (no {CURRENT} file)"
        ) from None
    return os.path.join(index_dir, name)


def commit_generation(index_dir: str, gen_dir: str) -> None:
    """Make gen_dir the live generation (one atomic rename), then drop the
    generations older than its parent."""
    tmp = os.path.join(index_dir, CURRENT + ".__tmp__")
    with open(tmp, "w") as f:
        f.write(os.path.basename(gen_dir) + "\n")
    os.replace(tmp, os.path.join(index_dir, CURRENT))
    live = generation_number(gen_dir)
    for name in os.listdir(index_dir):
        m = _GEN.match(name)
        if m and int(m.group(1)) <= live - KEEP_GENERATIONS:
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)


def _fingerprint(obj) -> str:
    import hashlib

    return hashlib.md5(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


@dataclass
class StageResult:
    stage: str
    path: str
    skipped: bool
    rows: int
    bytes: int
    wall_ms: float
    files: list = field(default_factory=list)


class StageManager:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_lineage"), exist_ok=True)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, "_lineage", f"{stage}.json")

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_committed(self, stage: str, config: dict) -> bool:
        m = self.manifest(stage)
        return (
            m is not None
            and m.get("fingerprint") == _fingerprint(config)
            and os.path.isdir(self.stage_path(stage))
        )

    def _scan_parquet_lineage(self, path: str) -> tuple[int, int, list]:
        """rows/bytes per output file from parquet footers (recursive, so
        partitioned layouts like bucket=*/part*.parquet are covered)."""
        import pyarrow.parquet as pq

        files = []
        total_rows = 0
        total_bytes = 0
        for dirpath, _dirnames, filenames in os.walk(path):
            for fn in sorted(filenames):
                if not fn.endswith(".parquet"):
                    continue
                fp = os.path.join(dirpath, fn)
                nrows = pq.ParquetFile(fp).metadata.num_rows
                nbytes = os.path.getsize(fp)
                total_rows += nrows
                total_bytes += nbytes
                files.append(
                    {"file": os.path.relpath(fp, path), "rows": nrows, "bytes": nbytes}
                )
        return total_rows, total_bytes, files

    def run(self, stage: str, config: dict, writer, **write_kwargs) -> StageResult:
        """Run `writer(tmp_path)` unless `stage` is already committed with the
        same config fingerprint.  writer must produce a parquet dir."""
        final = self.stage_path(stage)
        if self.is_committed(stage, config):
            m = self.manifest(stage)
            return StageResult(
                stage=stage, path=final, skipped=True,
                rows=m["rows"], bytes=m["bytes"], wall_ms=0.0, files=m["files"],
            )
        # stale/partial output from a crashed run: remove and recompute
        tmp = final + ".__tmp__"
        for p in (tmp, final):
            if os.path.isdir(p):
                shutil.rmtree(p)
        mp = self._manifest_path(stage)
        if os.path.exists(mp):
            os.remove(mp)
        t0 = time.time()
        writer(tmp)
        os.rename(tmp, final)  # atomic commit of the data
        rows, nbytes, files = self._scan_parquet_lineage(final)
        wall_ms = (time.time() - t0) * 1000
        manifest = {
            "stage": stage,
            "fingerprint": _fingerprint(config),
            "config": config,
            "rows": rows,
            "bytes": nbytes,
            "wall_ms": wall_ms,
            "files": files,
            "committed_at": time.time(),
        }
        with open(mp + ".__tmp__", "w") as f:
            json.dump(manifest, f, indent=2)
        os.rename(mp + ".__tmp__", mp)  # manifest write is the commit marker
        return StageResult(
            stage=stage, path=final, skipped=False,
            rows=rows, bytes=nbytes, wall_ms=wall_ms, files=files,
        )

    def put_json(self, stage: str, config: dict, payload: dict) -> None:
        """Commit a small JSON artifact (e.g. field_stats scalars) as a stage."""
        final = self.stage_path(stage) + ".json"
        with open(final + ".__tmp__", "w") as f:
            json.dump(payload, f, indent=2)
        os.rename(final + ".__tmp__", final)
        mp = self._manifest_path(stage)
        manifest = {
            "stage": stage, "fingerprint": _fingerprint(config), "config": config,
            "rows": 1, "bytes": os.path.getsize(final), "wall_ms": 0.0,
            "files": [os.path.basename(final)], "committed_at": time.time(),
        }
        with open(mp + ".__tmp__", "w") as f:
            json.dump(manifest, f, indent=2)
        os.rename(mp + ".__tmp__", mp)

    def get_json(self, stage: str) -> dict:
        with open(self.stage_path(stage) + ".json") as f:
            return json.load(f)

    def is_json_committed(self, stage: str, config: dict) -> bool:
        m = self.manifest(stage)
        return (
            m is not None
            and m.get("fingerprint") == _fingerprint(config)
            and os.path.exists(self.stage_path(stage) + ".json")
        )
