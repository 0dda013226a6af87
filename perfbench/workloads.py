"""Seeded inputs, the two workloads and their output checks.

Both workloads build the same kind of index: a ``generate_pages_spark``
corpus in the north-rule schema (``url`` pk, last write wins on
``warc_ts``, a ``lang`` attribute, stored positions) plus a few seeded
re-crawls of earlier urls. They differ in the route their queries take:

* ``point``: no filter, so ``search_rows`` serves every query on the
  driver point-read route (plan, dictionary, pyarrow postings read,
  decode, MaxScore or exhaustive scoring, pk lookup) with no Spark job.
* ``cluster``: every query carries a ``lang`` filter, so it always takes
  the cluster shard-scorer route (cogroup + ``applyInPandas`` + driver
  merge), one Spark job per query.

Each run: set up (corpus + ``build_index`` + open + first query on the
workload's route) several times, then untimed warm-up queries, then a
closed loop with one client for the measured seconds, each query timed in
wall and process-tree CPU time, then the checks. The traced run adds per-layer
probes and a churn probe (``add_documents`` -> ``delete_documents`` ->
reopen -> ``compact``).
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from collections import Counter
from time import perf_counter

import numpy as np

import probes

N_DOCS = 1000          # distinct urls in the base corpus
N_RECRAWL = 20         # re-crawled urls (later warc_ts, new text)
SETUP_REPS = 2         # setup_s is the median over these
WARMUP_S = 2.0         # untimed queries on the workload's route before the window
K = 10                 # results per query
N_CHECK_POINT = 1      # point queries re-run on the cluster exhaustive route
N_BATCH = 32           # queries in the search_many batch
LANGS = ["en", "de", "fr", "ru"]
STRIDE = 7919          # prime: maps generator ids onto distinct target ids


# -- inputs ------------------------------------------------------------------
def index_config():
    from search_engine_spark.config import IndexConfig

    return IndexConfig(text_col="text", pk_col="url", ts_col="warc_ts",
                       attr_cols=("lang",), num_shards=4, num_buckets=2,
                       store_positions=True)


def _pages(spark, n: int, seed: int, target, days: int = 0):
    """``n`` generated pages whose url ids are remapped by ``target`` (a
    Column function of the generator id) and whose warc_ts moves ``days``
    later, so a remapped page re-crawls an existing url."""
    from pyspark.sql import functions as F

    from search_engine_spark.corpus import generate_pages_spark

    df = generate_pages_spark(spark, n, seed=seed,
                              n_parts=max(1, min(n // 250, os.cpu_count() or 1)))
    gid = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    tid = target(gid)
    return (df.withColumn("url", F.format_string(
                "https://site%d.example.com/page/%010d", tid % 127, tid))
              .withColumn("warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {days} DAYS")))


def corpus(spark, seed: int, n_docs: int = N_DOCS):
    """Base corpus: n_docs urls plus 2% seeded re-crawls of them."""
    off = seed % n_docs
    base = _pages(spark, n_docs, seed, lambda i: i)
    recrawl = _pages(spark, n_docs * N_RECRAWL // N_DOCS, seed + 1,
                     lambda i: (i * STRIDE + off) % n_docs, days=400)
    return base.unionByName(recrawl)


def churn_batch(spark, seed: int):
    """Append batch for the churn probe: new urls plus re-crawls of
    existing ones. -> (DataFrame, replaced ids)."""
    off = (seed * 31 + 7) % N_DOCS
    n_new, n_rep = 30, 20
    new = _pages(spark, n_new, seed + 2, lambda i: i + N_DOCS)
    rep = _pages(spark, n_rep, seed + 3,
                 lambda i: (i * STRIDE + off) % N_DOCS, days=800)
    replaced = {(i * STRIDE + off) % N_DOCS for i in range(n_rep)}
    return new.unionByName(rep), replaced


def url(i: int) -> str:
    return f"https://site{i % 127}.example.com/page/{i:010d}"


def live_pages(df):
    """Last write wins per url, as the build applies it."""
    pdf = df.select("url", "warc_ts", "text", "lang").toPandas()
    in_bytes = int(pdf["text"].map(lambda s: len(s.encode())).sum())
    pdf = pdf.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    return pdf.reset_index(drop=True), in_bytes


def dictionary(index_dir: str) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(index_dir, "terms"), format="parquet",
                   partitioning="hive").to_table(columns=["term", "df"])
    return (np.array(t.column("term").to_pylist(), dtype=object),
            t.column("df").to_numpy())


def make_queries(rng, terms, dfs, texts, n: int) -> list[str]:
    """Words from the index's own dictionary across head, mid and tail df
    bands. Of every 20 queries, 16 are plain words (1, 2, 3, 2 of them in
    turn) and one each uses prefix ``*``, typo ``~``, a quoted phrase and
    negation; the shapes and bands come in a fixed order so every run sees
    the same mix, and only the words are drawn at random.

    Cost grows with the word count, so the median falls inside the
    two-word class rather than on the step between two classes, where a
    few queries more or less on one side would move it."""
    order = np.lexsort((terms, -dfs))
    t = terms[order]
    nh, nm = max(20, len(t) // 50), max(40, len(t) // 5)
    bands = [t[:nh], t[nh:nm], t[nm:]]

    def word(band: int, min_len: int = 1) -> str:
        while True:
            w = str(bands[band][rng.integers(len(bands[band]))])
            if len(w) >= min_len:
                return w

    out = []
    for i in range(n):
        shape = i % 20
        if shape == 0:
            out.append(f"{word(i % 3)} {word(1)[:3]}*")
        elif shape == 1:
            w = word(1 + i % 2, min_len=5)
            j = int(rng.integers(1, len(w)))
            out.append(w[:j] + "aeiou"[int(rng.integers(5))] + w[j + 1:] + "~")
        elif shape == 2:
            toks = texts[int(rng.integers(len(texts)))].split()
            j = int(rng.integers(len(toks) - 1))
            out.append(f'"{toks[j]} {toks[j + 1]}"')
        elif shape == 3:
            out.append(f"{word(i % 3)} {word((i + 1) % 3)} -{word(0)}")
        else:
            out.append(" ".join(word((i + j) % 3) for j in range((1, 2, 3, 2)[i % 4])))
    return out


def make_filters(rng, n: int) -> list[tuple[str, tuple[str, ...]]]:
    """``lang`` filters of varying selectivity (about 25, 50 and 75%),
    the three kinds in turn so every run sees the same mix."""
    out = []
    for i in range(n):
        kind = ("eq", "in", "ne")[i % 3]
        langs = tuple(str(x) for x in rng.choice(LANGS, 2 if kind == "in" else 1,
                                                 replace=False))
        out.append((kind, langs))
    return out


def filter_ast(f) -> dict:
    kind, langs = f
    if kind == "eq":
        return {"lang": langs[0]}
    if kind == "in":
        return {"lang": {"$in": list(langs)}}
    return {"lang": {"$ne": langs[0]}}


def passes(f, lang: str) -> bool:
    kind, langs = f
    return (lang in langs) if kind != "ne" else (lang != langs[0])


# -- checks --------------------------------------------------------------------
def same(a: list[dict], b: list[dict]) -> bool:
    """Same docids in the same order, scores equal to 6 decimals."""
    return len(a) == len(b) and all(
        x["docid"] == y["docid"] and abs(x["score"] - y["score"]) < 1e-6
        for x, y in zip(a, b))


def check_build(index_dir: str, meta: dict, live, pk_of: dict, rng) -> tuple[int, int]:
    """n_docs equals the distinct urls, and df/tf of a seeded term sample
    equal a recount from the corpus text. -> (attempted, failed)."""
    import pyarrow.dataset as ds

    from search_engine_spark.analysis import tokenize
    from search_engine_spark.codecs import PostingReader

    failed = int(meta["n_docs"] != live["url"].nunique())
    terms, dfs = dictionary(index_dir)
    order = np.argsort(-dfs, kind="stable")
    thirds = np.array_split(order, 3)
    sample = sorted({str(terms[i]) for part in thirds
                     for i in rng.choice(part, 8, replace=False)})
    want = set(sample)
    tf_re: dict[str, dict[str, int]] = {t: {} for t in sample}
    for u, text in zip(live["url"], live["text"]):
        for t, c in Counter(w for w in tokenize(text) if w in want).items():
            tf_re[t][u] = c
    rows = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                      partitioning="hive").to_table(
        filter=ds.field("term").isin(sample)).to_pylist()
    tf_ix: dict[str, dict[str, int]] = {t: {} for t in sample}
    for r in rows:
        docids, tfs, _ = PostingReader.from_row(r, meta["config"]["block_size"]).decode_all()
        tf_ix[r["term"]].update(
            {pk_of[int(d)]: int(f) for d, f in zip(docids, tfs)})
    df_ix = dict(zip(terms.tolist(), dfs.tolist()))
    for t in sample:
        failed += int(df_ix[t] != len(tf_re[t]) or tf_ix[t] != tf_re[t])
    return 1 + len(sample), failed


def check_batch(ix, queries: list[str], tr: probes.Tracer) -> tuple[int, int, float]:
    """One ``search_many`` batch; every query's rows must equal
    ``search_rows`` for the same query. -> (attempted, failed, seconds)."""
    batch = list(enumerate(queries))
    with tr.span("query.batch", "batch"):
        t0 = perf_counter()
        got = ix.search_many(batch, k=K).collect()
        wall = perf_counter() - t0
    by: dict[int, list[dict]] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by.setdefault(r["query_id"], []).append(r.asDict())
    failed = sum(not same(by.get(i, []), ix.search_rows(q, k=K)) for i, q in batch)
    return len(batch), failed, wall


# -- one run -----------------------------------------------------------------
class Run:
    """Everything one ``--workload/--seed`` invocation measures."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 tracer: probes.Tracer, work_dir: str):
        self.spark, self.workload, self.seed = spark, workload, seed
        self.seconds, self.tr, self.work = seconds, tracer, work_dir
        self.rng = np.random.default_rng([seed, 0 if workload == "point" else 1])
        self.attempted = self.failed = 0
        self.metrics: dict[str, float] = {}
        self.extra: dict[str, object] = {}
        self.layers: dict[str, float] = {}
        # per driver-route replay: postings examined; per cluster-route
        # query: Spark jobs and tasks
        self.postings: list[int] = []
        self.jobs: list[int] = []
        self.tasks: list[int] = []
        self.cpu = probes.CpuMeter()

    def count(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        self.extra.setdefault("checks", {})[what] = {
            "attempted": attempted, "failed": failed}

    # setup: corpus + build + open + first query, several times ----------------
    def _build(self, name: str, n_docs: int):
        """One setup: corpus -> build_index -> open -> first query on the
        workload's own route. -> (index, meta, seconds, build seconds)."""
        from search_engine_spark.build import build_index
        from search_engine_spark.query import SearchIndex

        d = os.path.join(self.work, name)
        t0 = perf_counter()
        pages = corpus(self.spark, self.seed, n_docs)
        with self.tr.span("build.build_index", name):
            c0, tb = self.cpu.read(), perf_counter()
            meta = build_index(self.spark, pages, d, index_config())
            tb, cb = perf_counter() - tb, self.cpu.read() - c0
        with self.tr.span("index.open", name):
            ix = SearchIndex(self.spark, d)
        flt = {"lang": "en"} if self.workload == "cluster" else None
        ix.search_rows("the", k=K, filter_ast=flt)
        return d, ix, meta, perf_counter() - t0, tb, cb

    def setup(self):
        walls, builds, cpus = [], [], []
        for rep in range(SETUP_REPS):
            if rep:
                shutil.rmtree(d)
            self.settle()
            d, ix, meta, wall, build, cpu = self._build(f"index{rep}", N_DOCS)
            walls.append(wall)
            builds.append(build)
            cpus.append(cpu)
        self.index_dir, self.meta, self.ix = d, meta, ix
        self.metrics["setup_s"] = statistics.median(walls)
        # steady-state build: the first rep also pays the JVM's one-time
        # compilation of every plan the build runs
        self.metrics["build_docs_per_cpu_s"] = meta["n_docs"] / statistics.median(cpus[1:])
        self.extra.update(setup_walls_s=walls, build_walls_s=builds, build_cpu_s=cpus,
                          build_docs_per_s=meta["n_docs"] / statistics.median(builds[1:]))

    def inputs(self):
        import pyarrow.dataset as ds

        self.live, in_bytes = live_pages(corpus(self.spark, self.seed))
        size = 0
        for dirpath, dirs, files in os.walk(self.index_dir):
            dirs[:] = [x for x in dirs if x not in ("_checkpoints", "metrics")]
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        self.metrics["index_bytes_per_input_byte"] = size / in_bytes
        self.extra.update(index_bytes=size, input_text_bytes=in_bytes,
                          n_docs=self.meta["n_docs"], n_terms=self.meta["n_terms"],
                          n_input_rows=N_DOCS + N_RECRAWL)
        terms, dfs = dictionary(self.index_dir)
        texts = self.live["text"].tolist()
        self.queries = make_queries(self.rng, terms, dfs, texts, 4000)
        self.filters = make_filters(self.rng, 4000)
        self.lang_of = dict(zip(self.live["url"], self.live["lang"]))
        t = ds.dataset(os.path.join(self.index_dir, "doc_stats"),
                       format="parquet").to_table(columns=["docid", "pk"])
        self.pk_of = dict(zip(t.column("docid").to_pylist(), t.column("pk").to_pylist()))
        plain = make_queries(self.rng, terms, dfs, texts, 8 * N_BATCH)
        self.batch = [q for q in plain
                      if not any(c in q for c in '*~"-')][:N_BATCH]

    # the measured closed loop --------------------------------------------------
    def settle(self):
        """Collect garbage on both sides of py4j and let background work
        drain, so a collection left over from the previous step does not
        land inside the next timed one."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(0.3)

    def warm_up(self):
        """WARMUP_S seconds of untimed queries from the far end of the list,
        so the JVM has compiled the route's code before the window: without
        it the cluster route's CPU per query still fell by a fifth across
        the window."""
        t_end = perf_counter() + WARMUP_S
        i = len(self.queries)
        while perf_counter() < t_end:
            i -= 1
            flt = filter_ast(self.filters[i]) if self.workload == "cluster" else None
            self.ix.search_rows(self.queries[i], k=K, filter_ast=flt)

    def window(self):
        self.settle()
        lat, cpu, results = [], [], []
        i = 0
        t_start = perf_counter()
        t_end = t_start + self.seconds
        while perf_counter() < t_end or i < 3:
            q = self.queries[i]
            f = self.filters[i] if self.workload == "cluster" else None
            rid = f"q{i}"
            try:
                if self.workload == "point":
                    rows, dt, dc = self._point_op(q, rid)
                else:
                    rows, dt, dc = self._cluster_op(q, f, rid)
                lat.append(dt)
                cpu.append(dc)
                results.append((q, f, rows))
            except Exception:  # counted, reported, and the loop goes on
                import traceback

                traceback.print_exc()
                self.failed += 1
            self.attempted += 1
            i += 1
        wall = perf_counter() - t_start
        ms, cpu_ms = np.array(lat) * 1e3, np.array(cpu) * 1e3
        if self.tr.enabled:
            self.layers["trace.query_p50_ms"] = float(np.percentile(ms, 50))
            self.layers["trace.query_cpu_p50_ms"] = float(np.percentile(cpu_ms, 50))
        else:
            # CPU, not wall time, carries the bounds: on a shared VM, over ten
            # seeds, the wall p50 spread 0.44 (quartile distance / median),
            # the CPU p50 0.18; steal and waits for a core add to wall only
            self.metrics["query_cpu_p50_ms"] = float(np.percentile(cpu_ms, 50))
            self.metrics["query_cpu_p75_ms"] = float(np.percentile(cpu_ms, 75))
            self.metrics["queries_per_cpu_s"] = len(cpu) / float(np.sum(cpu))
        self.extra.update(n_queries=len(lat), window_s=wall, qps=len(lat) / wall,
                          **{f"query_p{p}_ms": float(np.percentile(ms, p))
                             for p in (50, 75, 90, 99)},
                          latencies_ms=[round(x, 3) for x in ms.tolist()],
                          cpu_ms=[round(x, 3) for x in cpu_ms.tolist()])
        self.results = results

    def _timed(self, fn):
        """fn() -> (its result, wall seconds, process-tree CPU seconds). A
        driver-route query starts no process, so it skips the 2 ms rescan."""
        rescan = self.workload == "cluster"
        c0 = self.cpu.read(rescan)
        t0 = perf_counter()
        out = fn()
        t1 = perf_counter()
        return out, t1 - t0, self.cpu.read(rescan) - c0

    def _point_op(self, q, rid):
        if not self.tr.enabled:
            return self._timed(lambda: self.ix.search_rows(q, k=K))

        def replay():
            with self.tr.span("query", rid):
                return probes.replay_driver(self.tr, self.ix, q, K)

        (rows, n), dt, dc = self._timed(replay)
        self.postings.append(n)
        if rows != self.ix.search_rows(q, k=K):
            raise AssertionError(f"driver replay differs from search_rows: {q!r}")
        return rows, dt, dc

    def _cluster_op(self, q, f, rid):
        if not self.tr.enabled:
            return self._timed(
                lambda: self.ix.search_rows(q, k=K, filter_ast=filter_ast(f)))
        rows, dt, dc = self._timed(
            lambda: self._cluster_exec(q, filter_ast(f), "auto", rid))
        allowed = np.array(sorted(d for d, u in self.pk_of.items()
                                  if passes(f, self.lang_of[u])), dtype=np.int64)
        self._replay_cluster(q, allowed, "auto", rid, rows)
        return rows, dt, dc

    def _cluster_exec(self, q, flt, mode, rid):
        """``search_rows`` on the cluster route, split into plan and
        execute spans, with the Spark jobs it ran counted."""
        sc = self.spark.sparkContext
        with self.tr.span("query", rid):
            with self.tr.span("query.plan"):
                plan = self.ix.plan(q, K)
            sc.setJobGroup(rid, rid)
            with self.tr.span("query.cluster_exec"):
                rows = ([r.asDict() for r in self.ix.execute(
                    plan, mode=mode, filter_ast=flt, execution="cluster").collect()]
                    if plan.term_weights else [])
            sc.setLocalProperty("spark.jobGroup.id", None)
        nj, nt = probes.spark_work(self.spark, rid)
        self.jobs.append(nj)
        self.tasks.append(nt)
        return rows

    def _replay_cluster(self, q, allowed, mode, rid, rows):
        with self.tr.span("replay", rid):
            plan = self.ix.plan(q, K)
            merged = probes.replay_cluster(self.tr, self.ix, plan, allowed, mode) \
                if plan.term_weights else []
        got = [{"docid": d, "score": s} for d, s in merged]
        if not same(got, rows):
            raise AssertionError(f"shard scorer replay differs from cluster route: {q!r}")

    # output checks ---------------------------------------------------------------
    def checks(self):
        self.count(*check_build(self.index_dir, self.meta, self.live, self.pk_of,
                                self.rng), "build")
        if self.workload == "point":
            failed = 0
            # the window always runs its first 3 queries
            picks = self.rng.choice(3, N_CHECK_POINT, replace=False)
            for j in picks:
                q, _, rows = self.results[int(j)]
                ref = self._exhaustive_cluster(q, f"check{j}")
                failed += int(not same(rows, ref))
            self.count(len(picks), failed, "point_vs_cluster_exhaustive")
        else:
            failed = 0
            deep = self.meta["n_docs"]
            for j, (q, f, rows) in enumerate(self.results):
                full = self._deep_driver(q, deep, f"deep{j}")
                ref = [r for r in full if passes(f, self.lang_of[r["pk"]])][:K]
                failed += int(not same(rows, ref))
            self.count(len(self.results), failed, "filtered_vs_deep_driver")
        a, f, wall = check_batch(self.ix, self.batch, self.tr)
        self.count(a, f, "search_many_vs_search_rows")
        self.layers["query.batch_ms"] = wall * 1e3

    def _exhaustive_cluster(self, q, rid):
        if not self.tr.enabled:
            return [r.asDict() for r in self.ix.search(
                q, k=K, mode="exhaustive", execution="cluster").collect()]
        rows = self._cluster_exec(q, None, "exhaustive", rid)
        self._replay_cluster(q, None, "exhaustive", rid, rows)
        return rows

    def _deep_driver(self, q, deep, rid):
        if not self.tr.enabled:
            return self.ix.search_rows(q, k=deep)
        with self.tr.span("query", rid):
            rows, n = probes.replay_driver(self.tr, self.ix, q, deep)
        self.postings.append(n)
        return rows

    # traced-run probes ---------------------------------------------------------------
    def layer_probes(self):
        self.layers.update(probes.build_layers(self.index_dir))
        kern, mism = probes.kernel_layers(self.live["text"].tolist(),
                                          self.index_dir, self.meta)
        self.layers.update(kern)
        self.count(1, int(mism > 0), "reencode_equals_stored")
        self.churn()
        self.layers["trace.span_cost_us"] = probes.span_cost_us()

    def churn(self):
        """add -> delete -> reopen -> queries -> compact -> reopen -> queries
        on this run's index, each query checked against the cluster
        exhaustive route."""
        import json

        from search_engine_spark import update
        from search_engine_spark.query import SearchIndex

        batch, replaced = churn_batch(self.spark, self.seed)
        pool = [i for i in range(N_DOCS) if i not in replaced]
        dels = [url(int(i)) for i in self.rng.choice(pool, 10, replace=False)]
        tr, d = self.tr, self.index_dir
        opens = []
        with tr.span("update.add", "churn") as s:
            update.add_documents(self.spark, d, batch)
        self.layers["update.add_ms"] = (s["end"] - s["start"]) * 1e3
        with tr.span("update.delete", "churn") as s:
            update.delete_documents(self.spark, d, dels)
        self.layers["update.delete_ms"] = (s["end"] - s["start"]) * 1e3
        with open(os.path.join(d, "meta.json")) as f:
            meta = json.load(f)
        self.layers["update.generations"] = len(meta["generations"])
        self.layers["update.n_deleted"] = int(meta.get("n_deleted", 0))
        for phase in ("churned", "compacted"):
            if phase == "compacted":
                with tr.span("update.compact", "churn") as s:
                    update.compact(self.spark, d)
                self.layers["update.compact_s"] = s["end"] - s["start"]
            with tr.span("index.open", "churn") as s:
                self.ix = SearchIndex(self.spark, d)
            opens.append(s["end"] - s["start"])
            failed = 0
            for j in range(2):
                q = self.queries[int(self.rng.integers(len(self.queries)))]
                ref = [r.asDict() for r in self.ix.search(
                    q, k=K, mode="exhaustive", execution="cluster").collect()]
                failed += int(not same(self.ix.search_rows(q, k=K), ref))
            self.count(2, failed, f"churn_{phase}_vs_cluster_exhaustive")
        self.layers["index.open_ms"] = statistics.median(opens) * 1e3

    def span_layers(self):
        """Per-request medians of each query layer's span self time, and
        the per-query counts."""
        per: dict[tuple[str, str], float] = {}
        for s, st in zip(self.tr.spans, self.tr.self_times()):
            if s["rid"] is not None:
                key = (s["name"], s["rid"])
                per[key] = per.get(key, 0.0) + st
        for name in ("plan", "postings_read", "score", "pk_lookup",
                     "cluster_exec", "shard_read", "shard_scorer"):
            vals = [v for (n, _), v in per.items() if n == "query." + name]
            self.layers[f"query.{name}_ms"] = statistics.median(vals) * 1e3
        self.layers["query.postings_per_query"] = float(np.mean(self.postings))
        self.layers["spark.jobs_per_query"] = float(np.mean(self.jobs))
        self.layers["spark.tasks_per_query"] = float(np.mean(self.tasks))
