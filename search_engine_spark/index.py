"""On-disk index layout, metadata, and per-stage checkpoints.

Layout (one directory per index — the Spark analogue of the reference's
single LMDB environment with 23 named DBs, ``src/index.rs:70-159``):

```
index_dir/
  meta.json              # IndexConfig + scalars (N, avgdl) + build lineage
  docs/                  # canonical document snapshot (docid, pk, text, attrs)
                         #   == reference `documents` DB (src/index.rs:157-158)
  doc_stats/             # (docid, pk, dl, attrs...)  == generalized
                         #   field_id_word_count_docids (src/index.rs:124-125)
  term_doc/gen=G/bucket=*/   # build-time extraction spill: (term, shard,
                         #   docid, tf, dl, positions) runs — the extract
                         #   checkpoint, removed at finalize (and by an
                         #   append once its postings commit)
  terms/gen=G/           # per-generation dictionary: (term, df, cf, max_tf),
                         #   term-sorted per file == words FST
                         #   (src/index.rs:56) + the df/tf stats the
                         #   reference never stores; query merges
                         #   generations by summing df/cf
  postings/gen=G/bucket=*/   # segments: (term, shard, n_docs, docs, tfs,
                         #   dls, poss, block_meta) == word_docids
                         #   (src/index.rs:110-111) re-encoded per north rule
  deletes/               # tombstoned docids (update/delete batches append
                         #   here; compaction clears) — Lucene-style live-doc
                         #   filtering, replaces the reference's in-place
                         #   DelAdd merge (src/update/del_add.rs)
  metrics/               # per-stage/bucket build metrics rows
  _checkpoints/*.json    # stage completion manifests (resume skips done work)
```

Writes go through a ``_tmp-`` staging directory and are renamed into place
only after success, so a checkpoint file implies committed output (the
Iceberg-snapshot/LMDB-txn analogue available on plain file systems).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import zlib

from search_engine_spark.config import IndexConfig

STAGES = ("docs", "extract", "doc_stats", "terms", "postings", "finalize")


def term_bucket(term: str, num_buckets: int) -> int:
    """Deterministic term -> file bucket. crc32 is available identically in
    Python (zlib.crc32) and Spark SQL (F.crc32), so build, query, and oracle
    agree without a custom hash."""
    return zlib.crc32(term.encode("utf-8")) % num_buckets


class IndexPaths:
    def __init__(self, root: str):
        self.root = root
        self.meta = os.path.join(root, "meta.json")
        self.docs = os.path.join(root, "docs")
        self.doc_stats = os.path.join(root, "doc_stats")
        self.term_doc = os.path.join(root, "term_doc")
        self.terms = os.path.join(root, "terms")
        self.postings = os.path.join(root, "postings")
        self.deletes = os.path.join(root, "deletes")
        self.metrics = os.path.join(root, "metrics")
        self.checkpoints = os.path.join(root, "_checkpoints")

    def gen_dir(self, base: str, gen: int) -> str:
        return os.path.join(base, f"gen={gen}")

    def ensure(self):
        os.makedirs(self.root, exist_ok=True)
        os.makedirs(self.checkpoints, exist_ok=True)
        os.makedirs(self.metrics, exist_ok=True)


class CheckpointLog:
    """Stage-level checkpoint manifest with lineage + metrics.

    ``postings`` additionally checkpoints per bucket (``postings:bucket=i``),
    giving per-partition resume granularity: a killed build re-runs only the
    buckets whose manifests are missing.
    """

    def __init__(self, paths: IndexPaths, build_id: str):
        self.paths = paths
        self.build_id = build_id

    def _file(self, stage: str) -> str:
        return os.path.join(self.paths.checkpoints, stage.replace("=", "-") + ".json")

    def done(self, stage: str) -> bool:
        return os.path.exists(self._file(stage))

    def read(self, stage: str) -> dict | None:
        if not self.done(stage):
            return None
        with open(self._file(stage)) as f:
            return json.load(f)

    def commit(self, stage: str, *, inputs: dict, metrics: dict, wall_s: float):
        rec = {
            "stage": stage,
            "status": "committed",
            "build_id": self.build_id,
            "inputs": inputs,  # lineage: upstream stages + row counts
            "metrics": metrics,
            "wall_s": round(wall_s, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = self._file(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f, indent=1)
        os.replace(tmp, self._file(stage))

    def all(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.paths.checkpoints)):
            if name.endswith(".json"):
                with open(os.path.join(self.paths.checkpoints, name)) as f:
                    out.append(json.load(f))
        return out


def parquet_dir_column_max(path: str, col: str) -> int | None:
    """Max of an int column from parquet row-group statistics (local
    metadata read, no data scan, no Spark job)."""
    import pyarrow.parquet as pq

    mx = None
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, name)).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        v = c.statistics.max
                        if v is not None:
                            mx = v if mx is None else max(mx, v)
    return mx


def parquet_dir_column_sums(path: str, int_cols: tuple[str, ...] = (),
                            binary_size_cols: tuple[str, ...] = ()) -> dict:
    """Sum int columns / binary column byte lengths across a parquet dir via
    local pyarrow reads (column-pruned). Replaces per-bucket Spark metric
    jobs — at bench scale those fixed job overheads dominate the build."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = {c: 0 for c in int_cols}
    out.update({f"{c}_bytes": 0 for c in binary_size_cols})
    out["rows"] = 0
    cols = list(int_cols) + list(binary_size_cols)
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(root, name), columns=cols)
            out["rows"] += t.num_rows
            for c in int_cols:
                s = pc.sum(t.column(c)).as_py()
                out[c] += int(s or 0)
            for c in binary_size_cols:
                s = pc.sum(pc.binary_length(t.column(c))).as_py()
                out[f"{c}_bytes"] += int(s or 0)
    return out


def staged_write(final_dir: str):
    """Context for atomic directory writes: write to `<dir>._staging`, then
    rename into place. Returns (staging_path, commit_fn)."""
    staging = final_dir + "._staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)

    def commit():
        if os.path.exists(final_dir):
            shutil.rmtree(final_dir)
        os.replace(staging, final_dir)

    return staging, commit


def write_meta(paths: IndexPaths, config: IndexConfig, scalars: dict):
    rec = {"config": config.to_dict(), **scalars}
    tmp = paths.meta + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f, indent=1)
    os.replace(tmp, paths.meta)


def read_meta(paths: IndexPaths) -> dict:
    with open(paths.meta) as f:
        return json.load(f)
