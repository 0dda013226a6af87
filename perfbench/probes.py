"""Measurement helpers that sit outside the engine: spans, process-tree
memory, the environment record, and per-layer probes that time calls into
the library's own functions.

Nothing here changes library code. The traced run replays a query through
the same private steps the library runs (``SearchIndex.plan`` ->
``_readers_for`` -> scorer -> ``_pk_lookup`` on the driver route;
``execute(..., execution="cluster")`` plus ``make_shard_scorer`` run
in-process on the cluster route) and asserts the replay returns what the
public call returns, so a drift between replay and library shows up as a
correctness failure rather than as wrong layer numbers.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import platform
import time
from contextlib import contextmanager
from time import perf_counter

import numpy as np


# -- spans -------------------------------------------------------------------
class Tracer:
    """In-memory spans: name, start, end, parent index and request id.

    Spans nest through a stack, so a span opened inside another becomes its
    child and inherits its request id. ``enabled=False`` makes ``span`` a
    no-op, which is what the untraced runs use."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent]["rid"]
        rec = {"name": name, "start": perf_counter(), "end": None,
               "parent": parent, "rid": rid}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Per span, in seconds: its duration minus the part its children
        cover (children never overlap: there is one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span_cost_us(n: int = 20000) -> float:
    """Cost of one empty span enter/exit, in microseconds."""
    tr = Tracer(True)
    t0 = perf_counter()
    for _ in range(n):
        with tr.span("x", "r"):
            pass
    return (perf_counter() - t0) / n * 1e6


# -- process tree ------------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM) over this process and
    every descendant: the JVM and the Python UDF workers it forked."""
    pids = [os.getpid(), *descendants(os.getpid())]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


_HZ = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process: its own threads and
    the children it has reaped, so a worker that exits keeps counting."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


class CpuMeter:
    """CPU seconds used by the whole process tree: this process (every
    thread, to the nanosecond) plus every descendant (the JVM and the Python
    workers Spark forks, in clock ticks). The kernel does not count time a
    hypervisor takes the vCPU away (steal), nor time spent waiting for a
    core, so on a shared host this moves far less than wall time."""

    def __init__(self):
        self.pids = descendants(os.getpid())

    def read(self, rescan: bool = True) -> float:
        """CPU seconds so far. ``rescan`` first looks for processes started
        since the last scan, so they count from their birth; the scan costs
        about 2 ms (the JVM has many threads), so a sub-millisecond reading
        reuses the last one."""
        if rescan:
            self.pids = descendants(os.getpid())
        return time.process_time() + sum(_cpu_ticks(p) for p in self.pids) / _HZ


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- environment -------------------------------------------------------------
def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return -1.0


def _git_head(root: str) -> str | None:
    """HEAD commit read from the .git directory, or None outside a repo."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def source_digest(pkg_dir: str) -> str:
    """sha256 over the package's .py files: names the code version even in
    a checkout that is not a git repository."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, pkg_dir).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def environment(root: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_allowed": len(os.sched_getaffinity(0)),
        "loadavg_start": list(os.getloadavg()),
        "_cpu_stat_start": _cpu_stat(),
        "mem_available_mb_start": round(_meminfo_mb("MemAvailable"), 1),
        "mem_total_mb": round(_meminfo_mb("MemTotal"), 1),
        "git_head": _git_head(root),
        "source_digest": source_digest(os.path.join(root, "search_engine_spark")),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "pandas": pandas.__version__,
        "started_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def finish_environment(env: dict) -> dict:
    env["loadavg_end"] = list(os.getloadavg())
    # share of all vCPU time the hypervisor took away during the run
    d = [b - a for a, b in zip(env.pop("_cpu_stat_start"), _cpu_stat())]
    env["cpu_steal_share"] = d[7] / max(sum(d), 1)
    env["mem_available_mb_end"] = round(_meminfo_mb("MemAvailable"), 1)
    return env


# -- build layer: checkpoint records the build already writes -------------------
def build_layers(index_dir: str) -> dict[str, float]:
    recs = []
    for path in glob.glob(os.path.join(index_dir, "_checkpoints", "*.json")):
        with open(path) as f:
            recs.append(json.load(f))
    by = {r["stage"]: r for r in recs}
    sub = by["docs"]["metrics"].get("sub_walls") or {}
    buckets = [r for r in recs if r["stage"].startswith("postings:")]
    emitted = sum(r["metrics"]["postings_emitted"] for r in buckets)
    nbytes = sum(r["metrics"]["bytes_compressed"] for r in buckets)
    return {
        "build.stage1_s": by["docs"]["wall_s"],
        "build.dedupe_rank_s": sub.get("dedupe_rank", 0.0),
        "build.write_docs_s": sub.get("write_docs", 0.0),
        "build.extract_s": by["extract"]["wall_s"],
        "build.doc_stats_s": by["doc_stats"]["wall_s"],
        "build.terms_s": by["terms"]["wall_s"],
        "build.postings_max_bucket_s": max(r["wall_s"] for r in buckets),
        "build.postings_sum_bucket_s": sum(r["wall_s"] for r in buckets),
        "build.postings_emitted": emitted,
        "build.bytes_per_posting": nbytes / max(emitted, 1),
    }


# -- analysis and codecs kernels -----------------------------------------------
def _rate(fn, units: int, min_s: float = 0.3) -> float:
    """units/s of ``fn`` repeated until at least ``min_s`` has passed."""
    fn()  # first call pays imports and allocator warm-up
    n, t0 = 0, perf_counter()
    while True:
        fn()
        n += 1
        el = perf_counter() - t0
        if el >= min_s:
            return units * n / el


def kernel_layers(texts: list[str], index_dir: str, meta: dict) -> tuple[dict, int]:
    """Timed calls into analysis and codecs on this run's own corpus and
    index.

    Returns (metrics, mismatches): re-encoding every stored posting list
    with ``encode_postings_batch`` must give back the stored bytes."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from search_engine_spark.analysis import tokenize_positions_arrow_batch
    from search_engine_spark.codecs import PostingReader, encode_postings_batch

    cfg = meta["config"]
    bs = int(cfg["block_size"])
    out: dict[str, float] = {}
    arr = pa.array(texts, type=pa.string())
    out["analysis.tokenize_docs_per_s"] = _rate(
        lambda: tokenize_positions_arrow_batch(arr), len(texts))

    rows = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                      partitioning="hive").to_table().to_pylist()
    readers = [PostingReader.from_row(r, bs) for r in rows]
    dec = [(r.decode_all(), r.decode_flat_positions()) for r in readers]
    docids = np.concatenate([d[0][0] for d in dec])
    tfs = np.concatenate([d[0][1] for d in dec]).astype(np.uint32)
    dls = np.concatenate([d[0][2] for d in dec]).astype(np.uint32)
    flat = np.concatenate([d[1][0] for d in dec]).astype(np.uint32)
    lens = np.concatenate([d[1][1] for d in dec])
    lens_rows = np.array([r.n_docs for r in readers], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens_rows)[:-1]))
    gen0 = meta["generations"]["0"]["avgdl"]

    def enc():
        return encode_postings_batch(
            docids, tfs, dls, (flat, lens), starts, block_size=bs,
            avgdl=gen0, k1=float(cfg["k1"]), b=float(cfg["b"]))

    got = enc()
    mism = sum(
        got["docs"][i] != bytes(r["docs"]) or got["tfs"][i] != bytes(r["tfs"])
        or got["dls"][i] != bytes(r["dls"]) or got["poss"][i] != bytes(r["poss"])
        for i, r in enumerate(rows)
    )
    out["codecs.encode_postings_per_s"] = _rate(enc, len(docids))

    head = sorted(readers, key=lambda r: -r.n_docs)[:64]
    n_head = sum(r.n_docs for r in head)
    out["codecs.decode_all_postings_per_s"] = _rate(
        lambda: [r.decode_all() for r in head], n_head)
    out["codecs.decode_block_postings_per_s"] = _rate(
        lambda: [r.decode_block(i) for r in head for i in range(r.n_blocks)],
        n_head)
    return out, int(mism)


# -- query layer, driver route ---------------------------------------------------
def replay_driver(tr: Tracer, ix, query: str, k: int) -> tuple[list[dict], int]:
    """``search_rows(query, k)`` (no filter, driver route) step by step under
    spans. Mirrors ``SearchIndex._execute_driver``. -> (rows, postings)."""
    from search_engine_spark.query import (
        _exhaustive_topk, _maxscore_topk, _pick_algo, _plan_terms, _wand_topk)

    with tr.span("query.plan"):
        plan = ix.plan(query, k)
        if not plan.term_weights:
            return [], 0
        all_terms = _plan_terms(plan)
        postings = sum(ix._lookup_exact(all_terms).values())
    with tr.span("query.postings_read"):
        readers = ix._readers_for(all_terms)
    with tr.span("query.score"):
        deleted = ix._deleted if len(ix._deleted) else None
        algo = _pick_algo("auto", plan, False)
        plain = (not plan.phrases and not plan.negated and not plan.match_all
                 and not plan.prox_pairs and not plan.word_groups
                 and not plan.exact_boost and not plan.syn_phrases
                 and ix._partial_tombs is None)
        c = ix.config
        if algo == "wand" and plain:
            pairs = _wand_topk(readers, plan.term_weights, plan.k, ix.avgdl,
                               c.k1, c.b, deleted)
        elif algo == "maxscore" and plain:
            pairs = _maxscore_topk(readers, plan.term_weights, plan.k, ix.avgdl,
                                   c.k1, c.b, deleted)
        else:
            pairs = _exhaustive_topk(
                readers, plan.term_weights, plan.phrases, set(plan.negated),
                None, plan.k, ix.avgdl, c.k1, c.b, deleted,
                match_all=plan.match_all, prox_pairs=plan.prox_pairs,
                prox_weight=plan.prox_weight, prox_gaps=plan.prox_gaps,
                exact_boost=plan.exact_boost, exact_words=plan.exact_words,
                exact_dl_check=not c.field_cols, word_groups=plan.word_groups,
                syn_phrases=plan.syn_phrases, partial_tombs=ix._partial_tombs)
    if not pairs:
        return [], postings
    with tr.span("query.pk_lookup"):
        pk_map = ix._pk_lookup([d for d, _ in pairs])
    rows = [{"rank": i + 1, "docid": int(d), "pk": pk_map.get(int(d)),
             "score": float(s)} for i, (d, s) in enumerate(pairs)]
    return rows, postings


# -- query layer, cluster route -------------------------------------------------
def spark_work(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def replay_cluster(tr: Tracer, ix, plan, allowed: np.ndarray | None,
                   mode: str = "auto") -> list[tuple[int, float]]:
    """The cluster route's shard scorer run in-process on each shard's rows
    (what ``execute(..., execution="cluster")`` ships to the executors),
    then the driver merge. ``allowed``: sorted live docids passing the
    filter, or None. -> merged (docid, score) top-k."""
    import pandas as pd
    import pyarrow.dataset as ds

    from search_engine_spark.index import term_bucket
    from search_engine_spark.query import _pick_algo, _plan_terms, make_shard_scorer

    c = ix.config
    terms = _plan_terms(plan)
    with tr.span("query.shard_read"):
        if ix._pq_dataset is None:
            ix._pq_dataset = ds.dataset(ix.paths.postings, format="parquet",
                                        partitioning="hive")
        buckets = sorted({term_bucket(t, c.num_buckets) for t in terms})
        left = ix._pq_dataset.to_table(
            filter=ds.field("bucket").isin(buckets) & ds.field("term").isin(terms)
        ).to_pandas()
    algo = _pick_algo(mode, plan, allowed is not None)
    if ix._partial_tombs is not None:
        algo = "exhaustive"
    score_fn = make_shard_scorer(
        term_weights=plan.term_weights, phrases=plan.phrases,
        negated=plan.negated, k=plan.k, block_size=c.block_size,
        avgdl=ix.avgdl, k1=c.k1, b=c.b, algo=algo, match_all=plan.match_all,
        has_filter=allowed is not None, gen_avgdl=ix.gen_avgdl,
        deleted=ix._deleted, prox_pairs=plan.prox_pairs,
        prox_weight=plan.prox_weight, prox_gaps=plan.prox_gaps,
        exact_boost=plan.exact_boost, exact_words=plan.exact_words,
        exact_dl_check=not c.field_cols, word_groups=plan.word_groups,
        syn_phrases=plan.syn_phrases, partial_tombs=ix._partial_tombs)
    parts = []
    with tr.span("query.shard_scorer"):
        for shard, grp in left.groupby("shard"):
            right = None
            if allowed is not None:
                right = pd.DataFrame(
                    {"docid": allowed[allowed % c.num_shards == shard]})
            parts.append(score_fn(grp.reset_index(drop=True), right))
    with tr.span("query.merge"):
        pairs = [(int(d), float(s)) for p in parts
                 for d, s in zip(p["docid"], p["score"])]
        merged = sorted(pairs, key=lambda x: (-x[1], x[0]))[: plan.k]
        if merged:
            ix._pk_lookup([d for d, _ in merged])
    return merged
