"""The benchmark's workloads.  Each one sets up, runs a closed-loop load
for the measured window, checks every result against an oracle outside
the timed part of each request, and returns its metrics.

The engine is driven only through its public functions:
``session.get_spark``, ``plans.catalog.CATALOG[name].fn``,
``plans.token_index``, ``plans.neardup_index``, ``plans.vectors``,
``sources.snapshots`` and ``sources.readers``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

import datagen
from harness import SparkJobs, Tracer, frames_match, peak_rss_mb, percentile

# Dashboard mix, most popular first: the reference-core KPIs BQ1-BQ5 and
# read-only relational/analytics/stats catalog queries.  Catalog queries
# that write layers are left out, and the list is cut to what can be
# warmed within the set-up budget.  The popularity order is fixed; the
# seed draws the request sequence and the data.
DASHBOARD_QUERIES = (
    "genre_avg_revenue",
    "bq3_films_per_year",
    "join_star_revenue",
    "bq2_budget_revenue_corr",
    "grouping_sets_orders",
    "bq4_country_popularity",
    "lineitem_price_histogram",
    "bq5_runtime_rating",
)
ZIPF_S = 1.0
# one block holds the Zipf counts 4, 2, 1, 1, 1, 1, 1, 1; the window
# sends whole blocks, so every window holds the same mix
DASHBOARD_BLOCK = 12
DASHBOARD_SF = 0.02
WARM_THREADS = 4
STAR_SCAN_TABLES = ("lineitem", "orders", "customer", "part", "events")

SEARCH_DOCS = 600
SEARCH_VECS = 300
SEARCH_KINDS = ("bm25", "ann", "neardup")
ANN_NOISE = 0.02
NEARDUP_MIN_TOKENS = 40
NEARDUP_QID = 10_000_000
INGEST_DELETES, INGEST_UPDATES, INGEST_INSERTS = 10, 20, 40

BATCH_QUERIES = (
    "minhash_lsh_neardup",
    "neardup_jaccard",
    "dedup_clusters",
    "association_rules_parts",
)
BATCH_COPIES = 10
BATCH_BASE_SF = 0.002
BATCH_BASE_DOCS = 300

# Every per-layer metric, in every traced run; a layer a workload does
# not touch by design reads 0.
LAYER_METRICS = {
    "session.start_s": "s",
    "setup.datagen_s": "s",
    "setup.warm_s": "s",
    "check.oracle_s": "s",
    "plans.call_s": "s",
    "exec.collect_s": "s",
    "client.self_s": "s",
    "spark.jobs_per_request": "count",
    "spark.stages_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.failed_tasks": "count",
    **{f"sources.readers.scan_s.{t}": "s" for t in STAR_SCAN_TABLES},
    "plans.movie_view.derive_s": "s",
    "operators.kpi.facts_s": "s",
    "plans.token_index.build_s": "s",
    "plans.neardup_index.build_s": "s",
    "plans.vectors.build_s": "s",
    "plans.token_index.bm25_s": "s",
    "plans.vectors.ann_topk_s": "s",
    "plans.neardup_index.lookup_s": "s",
    "plans.token_index.refresh_s": "s",
    "plans.neardup_index.refresh_s": "s",
    "ingest.freshness_s": "s",
    "sources.snapshots.commit_s": "s",
    "sources.snapshots.files_per_layer": "count",
    "sources.snapshots.bytes_written_per_row": "B",
    **{f"batch.job_s.{q}": "s" for q in BATCH_QUERIES},
    "batch.rows_per_s": "rows/s",
    "batch.tasks_per_job": "count",
    "batch.datagen_s": "s",
    "dashboard.repeat_share": "ratio",
    "failed_ratio": "ratio",
    "trace.latency_p50_s": "s",
    "trace.bookkeeping_s": "s",
}


@dataclass
class Request:
    """One request of a closed-loop client, and what came of it."""

    rid: str
    kind: str
    args: dict
    latency_s: float = 0.0
    result: pd.DataFrame | None = None
    error: str | None = None
    jobs: dict = field(default_factory=dict)


@dataclass
class Bench:
    """What a workload gets from the runner."""

    work: str
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    jvm_pid: int = 0
    jobs: SparkJobs | None = None
    layer: dict = field(default_factory=dict)

    def data_dir(self, name: str) -> str:
        return os.path.join(self.work, name)


# -- request generation (pure: no engine, testable) ---------------------


def zipf_shares(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def zipf_block(n: int, size: int, s: float = ZIPF_S) -> list[int]:
    """Per-rank request counts of one block of ``size`` requests,
    Zipf-proportional by largest remainder."""
    shares = zipf_shares(n, s) * size
    counts = np.floor(shares).astype(int)
    left = size - counts.sum()
    for i in np.argsort(-(shares - np.floor(shares)), kind="stable")[:left]:
        counts[i] += 1
    return counts.tolist()


def dashboard_block(seed: int) -> list[str]:
    """Seeded block of ``DASHBOARD_BLOCK`` requests holding every query
    its Zipf count of times; each query's requests sit at evenly spaced
    positions from a seeded phase.  The window repeats the block."""
    rng = np.random.default_rng([seed, 1])
    counts = zipf_block(len(DASHBOARD_QUERIES), DASHBOARD_BLOCK)
    phase = rng.random(len(counts))
    slots = sorted(((k + phase[q]) / c, q) for q, c in enumerate(counts) for k in range(c))
    return [DASHBOARD_QUERIES[q] for _, q in slots]


def search_request(
    rng: np.random.Generator, kind: str, texts: list[str], n_vecs: int
) -> tuple[str, dict]:
    """One seeded search request of ``kind``; ``texts`` is the corpus
    (doc_id = position)."""
    if kind == "bm25":
        k = int(rng.integers(1, 4))
        return kind, {"terms": sorted(rng.choice(datagen.VOCAB, size=k, replace=False).tolist())}
    if kind == "ann":
        return kind, {"vec_id": int(rng.integers(0, n_vecs)), "noise_seed": int(rng.integers(0, 2**31))}
    long_docs = [i for i, t in enumerate(texts) if len(t.split()) >= NEARDUP_MIN_TOKENS]
    src = int(long_docs[int(rng.integers(0, len(long_docs)))])
    toks = texts[src].split()
    if rng.random() < 0.5:
        toks[int(rng.integers(0, len(toks)))] = str(rng.choice(datagen.VOCAB))
    return kind, {"source": src, "text": " ".join(toks)}


def jaccard3(a: str, b: str) -> float:
    """Word 3-shingle Jaccard, as the engine's near-dup verify computes
    it (a doc under three words is one whole-doc shingle)."""

    def sh(t: str) -> set[str]:
        w = t.split()
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y)


def bm25_oracle_sql(terms: list[str], limit: int) -> str:
    """BM25 (k1=1.2, b=0.75) top-``limit`` over the raw ``documents``
    text, rounded and tie-broken as the engine's index reader does."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                             x -> x <> '') AS ts
  FROM documents
),
ex AS (SELECT doc_id, unnest(ts) AS token FROM tok),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM ex GROUP BY doc_id),
stats AS (
  SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n_docs,
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM ex) AS total
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM ex
       WHERE token IN ({term_list}) GROUP BY 1, 2),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT t.doc_id,
         ln(1 + (s.n_docs - d.df + CAST(0.5 AS DOUBLE)) / (d.df + CAST(0.5 AS DOUBLE)))
         * (t.tf * CAST(2.2 AS DOUBLE))
         / (t.tf + CAST(1.2 AS DOUBLE)
                   * (CAST(0.25 AS DOUBLE)
                      + CAST(0.75 AS DOUBLE) * l.dl / (s.total / s.n_docs))) AS sc
  FROM tf t JOIN dfreq d USING (token) JOIN dl l USING (doc_id) CROSS JOIN stats s
)
SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms, ROUND(SUM(sc), 4) AS bm25_r4
FROM scored GROUP BY doc_id ORDER BY bm25_r4 DESC, doc_id LIMIT {limit}
"""


def duck(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


# -- shared request execution -------------------------------------------


def timed_request(b: Bench, req: Request, call) -> None:
    """Run one request: ``call()`` returns a DataFrame (driver-side
    planning), ``toPandas`` executes it.  Latency covers both; the
    traced run also reads back the request's Spark jobs afterwards."""
    t = b.tracer
    with b.jobs.group(req.rid):
        t0 = time.perf_counter()
        try:
            with t.span("request", req.rid):
                with t.span("plans.call"):
                    df = call()
                with t.span("exec.collect"):
                    req.result = df.toPandas()
        except Exception as exc:  # a failed request is counted, not fatal
            req.error = f"{type(exc).__name__}: {str(exc)[:200]}"
        req.latency_s = time.perf_counter() - t0
    if t.enabled:
        t0 = time.perf_counter()
        req.jobs = b.jobs.stats(req.rid)
        t._add_bookkeeping(time.perf_counter() - t0)


def parallel(*fns) -> None:
    """Run ``fns`` in threads of their own; re-raise the first error."""
    errors: list[BaseException] = []

    def guard(fn) -> None:
        try:
            fn()
        except BaseException as exc:  # re-raised in the calling thread
            errors.append(exc)

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in fns]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]


def run_window(b: Bench, unit: list[str], serve) -> tuple[list[Request], float]:
    """One closed-loop client: it sends each request of ``unit`` (a
    dashboard block, a batch pass) after the previous one returned, and
    repeats the whole unit until the window has closed, at least once.
    Every window thus holds whole units, the same mix whatever the seed
    or the host speed.  Returns the requests and the window's length."""
    reqs: list[Request] = []
    start = time.perf_counter()
    while not reqs or time.perf_counter() - start < b.seconds:
        for kind in unit:
            req = Request(f"w{len(reqs)}-{kind}", kind, {})
            serve(req)
            reqs.append(req)
    return reqs, time.perf_counter() - start


def check_all(reqs: list[Request], check) -> None:
    """Set each request's error from ``check(request)``; requests that
    raised keep their exception."""
    for r in reqs:
        if r.error is None:
            r.error = check(r)


def summarize(b: Bench, reqs: list[Request], elapsed: float, setup_s: float) -> dict:
    """End-to-end metrics of the window's requests; the traced run also
    records their per-layer means."""
    lat = [r.latency_s for r in reqs]
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (percentile(lat, 0.5), "s"),
        "throughput_rps": (len(reqs) / elapsed, "1/s"),
        # the driver and the JVM; Python workers come and go with idle
        # timeouts, so whether one is alive at the end is a matter of timing
        "peak_rss_mb": (peak_rss_mb([os.getpid(), b.jvm_pid]), "MB"),
    }
    layer = b.layer
    t = b.tracer
    if t.enabled:
        n = max(1, len(reqs))
        self_t = t.self_times()
        layer["plans.call_s"] = sum(t.durations("plans.call")) / n
        layer["exec.collect_s"] = sum(t.durations("exec.collect")) / n
        layer["client.self_s"] = self_t.get("request", 0.0) / n
        for key in ("jobs", "stages", "tasks"):
            layer[f"spark.{key}_per_request"] = sum(r.jobs.get(key, 0) for r in reqs) / n
        layer["spark.failed_tasks"] = sum(r.jobs.get("failed_tasks", 0) for r in reqs)
        layer["trace.latency_p50_s"] = percentile(lat, 0.5)
        layer["trace.bookkeeping_s"] = t.bookkeeping_s / n
    return e2e


def record_failures(b: Bench, reqs: list[Request]) -> int:
    """Count the failed requests, the window's and the traced probes',
    into ``failed_ratio`` and return how many there were."""
    failed = [r for r in reqs if r.error is not None]
    b.layer["failed_ratio"] = len(failed) / max(1, len(reqs))
    b.layer["failed_requests"] = [(r.rid, r.kind, r.error) for r in failed]
    return len(failed)


def probe(rid: str, fn) -> list[Request]:
    """Run a traced run's probe; one that raises is one failed request,
    so the run reports ``correct: false`` rather than made-up metrics."""
    try:
        return fn()
    except Exception as exc:
        return [Request(rid, "probe", {}, error=f"{type(exc).__name__}: {str(exc)[:200]}")]


# -- dashboard -----------------------------------------------------------


def dashboard(b: Bench, t_start: float) -> tuple[int, int, dict, dict]:
    from aie321_bigdata_movie_kpi_1m_spark.plans.catalog import CATALOG

    t = b.tracer
    data = b.data_dir("dashboard")
    with t.span("setup.datagen"):
        datagen.write_tables(
            datagen.star_tables(b.seed, DASHBOARD_SF, n_docs=10, n_vecs=10), data
        )
    block = dashboard_block(b.seed)
    with t.span("setup.warm"):
        # every distinct query once, spread over WARM_THREADS threads
        def warm(queries) -> None:
            for q in queries:
                CATALOG[q].fn(b.spark, data).toPandas()

        parallel(*[(lambda qs: lambda: warm(qs))(DASHBOARD_QUERIES[i::WARM_THREADS]) for i in range(WARM_THREADS)])
        # then one block as the window will send it: the JIT keeps
        # speeding queries up for several runs after the first
        warm(block)
    setup_s = time.perf_counter() - t_start

    def serve(req: Request) -> None:
        timed_request(b, req, lambda: CATALOG[req.kind].fn(b.spark, data))

    reqs, elapsed = run_window(b, block, serve)
    with t.span("check.oracle"):
        con = duck(data, datagen.STAR_TABLES)
        expected = {q: con.execute(CATALOG[q].oracle).df() for q in DASHBOARD_QUERIES}
        con.close()
    check_all(reqs, lambda r: frames_match(r.result, expected[r.kind]))
    seen: set[str] = set()
    repeats = 0
    for r in reqs:
        repeats += r.kind in seen
        seen.add(r.kind)
    b.layer["dashboard.repeat_share"] = repeats / len(reqs)
    e2e = summarize(b, reqs, elapsed, setup_s)
    if t.enabled:
        _trace_star_layers(b, data)
        reqs += probe("search-probe", lambda: _trace_search_layers(b))
    failed = record_failures(b, reqs)
    return len(reqs), failed, e2e, b.layer


def _trace_star_layers(b: Bench, data: str) -> None:
    """Timed calls into the layers under the dashboard queries: one scan
    per star table, the movie view derivation and the KPI fact build,
    each forced by a count."""
    from aie321_bigdata_movie_kpi_1m_spark.operators import kpi
    from aie321_bigdata_movie_kpi_1m_spark.plans.movie_view import movies_raw_from_star
    from aie321_bigdata_movie_kpi_1m_spark.sources.readers import load_star_table

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    for tbl in STAR_SCAN_TABLES:
        b.layer[f"sources.readers.scan_s.{tbl}"] = timed(
            lambda: load_star_table(b.spark, data, tbl).count()
        )
    b.layer["plans.movie_view.derive_s"] = timed(
        lambda: movies_raw_from_star(b.spark, data).count()
    )
    b.layer["operators.kpi.facts_s"] = timed(
        lambda: kpi.build_movie_facts(movies_raw_from_star(b.spark, data)).count()
    )


# -- search and ingest layers (traced runs) ----------------------------


class SearchIndexes:
    """A seeded corpus committed as a docs snapshot layer, with the token,
    near-dup and IVFADC indexes built over it concurrently (as a
    deployment would; each build time is its wall time while the others
    run), and the requests served through them."""

    def __init__(self, b: Bench, kinds: tuple[str, ...]) -> None:
        from aie321_bigdata_movie_kpi_1m_spark.plans import neardup_index, token_index, vectors
        from aie321_bigdata_movie_kpi_1m_spark.sources import readers, snapshots

        self.b, self.spark = b, b.spark
        spark = b.spark
        data = b.data_dir("search")
        rng = np.random.default_rng([b.seed, 0])
        self.texts = datagen.doc_texts(rng, SEARCH_DOCS)
        self.vecs, labels = datagen.unit_vectors(rng, SEARCH_VECS)
        datagen.write_tables(
            {
                "documents": datagen.documents_table(rng, np.arange(SEARCH_DOCS), self.texts),
                "embeddings": datagen.embeddings_table(np.arange(SEARCH_VECS), self.vecs, labels),
            },
            data,
        )
        layers = os.path.join(b.work, "layers")
        self.docs = os.path.join(layers, "docs")
        self.tok = os.path.join(layers, "token_index")
        self.nd = os.path.join(layers, "neardup_index")
        self.ivf = os.path.join(layers, "ivfadc")
        self.tok_file_rows = max(100, sum(len(x.split()) for x in self.texts) // 16)
        self.nd_file_rows = max(250, SEARCH_DOCS * 32 // 64)

        def timed(key: str, build) -> None:
            t0 = time.perf_counter()
            build()
            b.layer[key] = time.perf_counter() - t0

        builds = {
            "bm25": lambda: timed(
                "plans.token_index.build_s",
                lambda: token_index.build_token_index(
                    spark, self.corpus(), self.tok, splits=1, target_rows_per_file=self.tok_file_rows
                ),
            ),
            "neardup": lambda: timed(
                "plans.neardup_index.build_s",
                lambda: neardup_index.build_neardup_index(
                    spark,
                    self.corpus(),
                    self.nd,
                    num_hashes=64,
                    bands=32,
                    n=3,
                    splits=1,
                    target_rows_per_file=self.nd_file_rows,
                ),
            ),
        }

        def docs_then_text_indexes() -> None:
            snapshots.commit_snapshot(
                spark,
                readers.load_star_table(spark, data, "documents"),
                self.docs,
                mode="overwrite",
                stats_cols=["doc_id"],
            )
            parallel(*[builds[k] for k in kinds if k in builds])

        jobs = [docs_then_text_indexes]
        if "ann" in kinds:
            jobs.append(
                lambda: timed(
                    "plans.vectors.build_s",
                    lambda: vectors.build_ann_ivfadc(
                        spark,
                        readers.load_star_table(spark, data, "embeddings"),
                        self.ivf,
                        target_rows_per_file=max(32, SEARCH_VECS // 12),
                    ),
                )
            )
        parallel(*jobs)
        self.con = duck(data, ["documents"])

    def corpus(self):
        from aie321_bigdata_movie_kpi_1m_spark.sources import snapshots

        return snapshots.read_snapshot(self.spark, self.docs)

    def serve(self, req: Request) -> None:
        from aie321_bigdata_movie_kpi_1m_spark.plans import neardup_index, token_index, vectors

        spark, a = self.spark, req.args
        if req.kind == "bm25":
            call = lambda: token_index.indexed_bm25_topk(spark, self.tok, a["terms"])  # noqa: E731
        elif req.kind == "ann":
            noise = np.random.default_rng(a["noise_seed"]).normal(0.0, ANN_NOISE, datagen.EMBED_DIM)
            q = self.vecs[a["vec_id"]].astype(np.float64) + noise
            q = (q / np.linalg.norm(q)).tolist()
            call = lambda: vectors.ann_ivfadc_topk(  # noqa: E731
                spark,
                self.ivf,
                spark.createDataFrame([(0, q)], "query_id long, embedding array<double>"),
            )
        else:
            probe = spark.createDataFrame([(NEARDUP_QID, a["text"])], "doc_id long, text string")
            call = lambda: neardup_index.indexed_neardup_lookup(  # noqa: E731
                spark, self.nd, probe, self.corpus(), threshold=0.8
            )
        timed_request(self.b, req, call)

    def check(self, r: Request) -> str | None:
        res = r.result
        if r.kind == "bm25":
            return frames_match(res, self.con.execute(bm25_oracle_sql(r.args["terms"], 20)).df())
        if r.kind == "ann":
            if r.args["vec_id"] not in set(res["neighbor_id"].tolist()):
                return f"source vector {r.args['vec_id']} not in top-k"
            return None
        src = r.args["source"]
        hit = res[res["j"] == src]
        if hit.empty:
            return f"source doc {src} not returned"
        want = jaccard3(r.args["text"], self.texts[src])
        got = float(hit["jaccard"].iloc[0])
        # the engine reports Jaccard rounded to 4 places
        if want < 0.8 or abs(got - want) > 0.5e-4 + 1e-12:
            return f"jaccard {got} != recomputed {want}"
        return None


SEARCH_LAYER_KEYS = {
    "bm25": "plans.token_index.bm25_s",
    "ann": "plans.vectors.ann_topk_s",
    "neardup": "plans.neardup_index.lookup_s",
}


def _trace_search_layers(b: Bench) -> list[Request]:
    """Build the three search indexes, then serve two rounds of one
    request of each kind from concurrent clients (the first round warms
    up); each second-round request is checked against its oracle."""
    from aie321_bigdata_movie_kpi_1m_spark.sources import snapshots

    idx = SearchIndexes(b, SEARCH_KINDS)
    rng = np.random.default_rng([b.seed, 2])
    rounds = [
        [Request(f"s{r}-{k}", *search_request(rng, k, idx.texts, SEARCH_VECS)) for k in SEARCH_KINDS]
        for r in range(2)
    ]
    for reqs in rounds:
        parallel(*[(lambda req: lambda: idx.serve(req))(req) for req in reqs])
    reqs = rounds[1]
    check_all(reqs, idx.check)
    for r in reqs:
        b.layer[SEARCH_LAYER_KEYS[r.kind]] = r.latency_s
    layers = [idx.docs, f"{idx.ivf}/assign"]
    for g in (idx.tok, idx.nd):
        for name in sorted(os.listdir(g)):
            path = os.path.join(g, name)
            if os.path.isdir(path) and snapshots.snapshot_versions(b.spark, path):
                layers.append(path)
    counts = [len(snapshots.snapshot_files(b.spark, p)) for p in layers]
    b.layer["sources.snapshots.files_per_layer"] = sum(counts) / len(counts)
    docs_bytes = sum(
        os.path.getsize(f.removeprefix("file:")) for f in snapshots.snapshot_files(b.spark, idx.docs)
    )
    b.layer["sources.snapshots.bytes_written_per_row"] = docs_bytes / SEARCH_DOCS
    idx.con.close()
    return reqs


def _trace_ingest(b: Bench) -> Request:
    """One change batch through the write path that keeps the text
    indexes fresh.  Key deletes, updates and inserts of docs carrying a
    batch-fresh token are committed to the docs layer.  The keyed change
    feed is folded into the token index, and a BM25 search for the fresh
    token must return exactly the inserted docs; the near-dup index is
    refreshed after.  Freshness runs from the commit call to that read."""
    from aie321_bigdata_movie_kpi_1m_spark.plans import neardup_index, token_index
    from aie321_bigdata_movie_kpi_1m_spark.sources import snapshots

    idx = SearchIndexes(b, ("bm25", "neardup"))
    idx.con.close()
    spark = b.spark
    rng = np.random.default_rng([b.seed, 3])
    fresh = f"fresh{b.seed}"
    picked = rng.permutation(SEARCH_DOCS)
    deleted, updated = picked[:INGEST_DELETES], picked[INGEST_DELETES : INGEST_DELETES + INGEST_UPDATES]
    inserted = SEARCH_DOCS + np.arange(INGEST_INSERTS)
    texts = datagen.doc_texts(rng, INGEST_UPDATES + INGEST_INSERTS, dup_share=0.0)
    texts[INGEST_UPDATES:] = [f"{fresh} {x}" for x in texts[INGEST_UPDATES:]]
    rows = datagen.documents_table(rng, np.concatenate([updated, inserted]), texts).to_pandas()
    req = Request("ingest-0", "ingest", {})
    try:
        t0 = time.perf_counter()
        v0 = snapshots.snapshot_versions(spark, idx.docs)[-1]
        keys = [int(k) for k in np.concatenate([deleted, updated])]
        snapshots.delete_snapshot_keys(spark, idx.docs, "doc_id", keys)
        snapshots.commit_snapshot(
            spark,
            spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long"),
            idx.docs,
            mode="append",
            stats_cols=["doc_id"],
        )
        t1 = time.perf_counter()
        v1 = snapshots.snapshot_versions(spark, idx.docs)[-1]
        changes = snapshots.snapshot_changes_keyed(spark, idx.docs, v0, v1, ["doc_id"], include_values=True)
        token_index.refresh_token_index(spark, idx.tok, changes, target_rows_per_file=idx.tok_file_rows)
        t2 = time.perf_counter()
        got = token_index.indexed_bm25_topk(spark, idx.tok, [fresh], limit=10 * INGEST_INSERTS).toPandas()
        t3 = time.perf_counter()
        neardup_index.refresh_neardup_index(spark, idx.nd, changes, target_rows_per_file=idx.nd_file_rows)
        t4 = time.perf_counter()
    except Exception as exc:  # counted as a failed request
        req.error = f"{type(exc).__name__}: {str(exc)[:200]}"
        return req
    b.layer["sources.snapshots.commit_s"] = t1 - t0
    b.layer["plans.token_index.refresh_s"] = t2 - t1
    b.layer["plans.neardup_index.refresh_s"] = t4 - t3
    b.layer["ingest.freshness_s"] = t3 - t0
    if sorted(got["doc_id"].tolist()) != inserted.tolist():
        req.error = f"fresh-token search returned {len(got)} docs, want the {INGEST_INSERTS} inserted"
    return req


# -- batch_dedup ---------------------------------------------------------


def disjoint_copies(seed: int, copies: int) -> dict:
    """Base star tables plus ``copies`` disjoint copies of ``documents``
    (doc_id offset, every token salted with the copy) and ``lineitem``
    (order and part keys offset), so each copy's duplicate and basket
    structure is kept and never bridges copies."""
    import pyarrow as pa

    tables = datagen.star_tables(seed, BATCH_BASE_SF, n_docs=BATCH_BASE_DOCS, n_vecs=10)
    docs = tables["documents"]
    ids = docs["doc_id"].to_numpy()
    span = int(ids.max()) + 1
    base_texts = docs["text"].to_pylist()
    parts = []
    for c in range(copies):
        texts = [" ".join(f"{w}_c{c}" for w in s.split(" ")) for s in base_texts]
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(ids + c * span, pa.int64()),
                    "text": pa.array(texts),
                    "lang": docs["lang"],
                    "source": docs["source"],
                    "n_chars": pa.array([len(s) for s in texts], pa.int64()),
                }
            )
        )
    tables["documents"] = pa.concat_tables(parts)
    li = tables["lineitem"]
    ok_span = int(li["l_orderkey"].to_numpy().max()) + 1
    pk_span = int(li["l_partkey"].to_numpy().max()) + 1
    parts = []
    for c in range(copies):
        parts.append(
            li.set_column(0, "l_orderkey", pa.array(li["l_orderkey"].to_numpy() + c * ok_span, pa.int64()))
            .set_column(1, "l_partkey", pa.array(li["l_partkey"].to_numpy() + c * pk_span, pa.int64()))
        )
    tables["lineitem"] = pa.concat_tables(parts)
    return tables


def batch_dedup(b: Bench, t_start: float) -> tuple[int, int, dict, dict]:
    from aie321_bigdata_movie_kpi_1m_spark.plans.catalog import CATALOG

    t = b.tracer
    data = b.data_dir("batch")
    with t.span("setup.datagen"):
        tables = disjoint_copies(b.seed, BATCH_COPIES)
        datagen.write_tables(tables, data)
    with t.span("setup.warm"):
        # every job once, concurrently
        parallel(*[(lambda q: lambda: CATALOG[q].fn(b.spark, data).toPandas())(q) for q in BATCH_QUERIES])
    setup_s = time.perf_counter() - t_start

    # whole passes, one job after the other
    reqs, elapsed = run_window(
        b, list(BATCH_QUERIES), lambda req: timed_request(b, req, lambda: CATALOG[req.kind].fn(b.spark, data))
    )
    with t.span("check.oracle"):
        con = duck(data, datagen.STAR_TABLES)
        expected = {q: con.execute(CATALOG[q].oracle).df() for q in BATCH_QUERIES}
        con.close()
    check_all(reqs, lambda r: frames_match(r.result, expected[r.kind]))
    input_rows = tables["documents"].num_rows * 3 + tables["lineitem"].num_rows
    b.layer["batch.rows_per_s"] = input_rows * (len(reqs) // len(BATCH_QUERIES)) / elapsed
    b.layer["batch.datagen_s"] = t.totals().get("setup.datagen", 0.0)
    for q in BATCH_QUERIES:
        b.layer[f"batch.job_s.{q}"] = statistics.fmean(r.latency_s for r in reqs if r.kind == q)
    e2e = summarize(b, reqs, elapsed, setup_s)
    if t.enabled:
        jobs = sum(r.jobs.get("jobs", 0) for r in reqs)
        b.layer["batch.tasks_per_job"] = sum(r.jobs.get("tasks", 0) for r in reqs) / max(1, jobs)
        reqs += probe("ingest-probe", lambda: [_trace_ingest(b)])
    failed = record_failures(b, reqs)
    return len(reqs), failed, e2e, b.layer


WORKLOADS = {"dashboard": dashboard, "batch_dedup": batch_dedup}
