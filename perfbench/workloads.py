"""The benchmark's workloads: what one pass does and how its outputs are
checked. A pass is the unit the closed loop repeats: one batch job for
``corpus_batch``, one request for ``news_service``.

Every call into the program is wrapped in a span named after the layer
it enters (``session.start``, ``queries.construct``/``plan``/``exec``,
``plans.*``, ``sources.write``); memo builds and re-materializations come
from ``caching.drain_ledger`` as ``caching.build``/``caching.remat``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from perfbench import inputs

SERVICE_ARTICLES = (180, 221)
PROBE_ARTICLES = 40
WARMUP_REQUESTS = 2

# The job's first op is fixed: the first query of a fresh session pays
# about a second of session warm-up, which would otherwise land on
# whichever op the shuffle put first. The rest run in seed-shuffled order;
# dedup_fuzzy builds the fuzzy-survivors memo that news_pipeline reuses.
CORPUS_FIRST = "dedup_exact_count"
CORPUS_SHUFFLED = ("dedup_exact", "dedup_fuzzy")
CORPUS_QUERIES = (CORPUS_FIRST, *CORPUS_SHUFFLED)
CORPUS_TAIL = ("news_pipeline",)
# memos a corpus job builds; reported one by one in traced runs
CORPUS_MEMOS = ("dedup_fuzzy_survivors", "fuzzy_title_pairs")


class CheckFailed(Exception):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class _Fetched:
    """A result the timed action already fetched, shaped for
    ``tests.oracle.compare`` (which only calls ``toPandas``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _timed_df(tracer, layer: str, build, action):
    """Build, plan and run one DataFrame under ``<layer>.construct``,
    ``.plan`` (forced executedPlan) and ``.exec`` (the action) spans."""
    with tracer.span(f"{layer}.construct"):
        df = build()
    with tracer.span(f"{layer}.plan"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span(f"{layer}.exec"):
        out = action(df)
    return df, out


class CorpusBatch:
    """A fresh-session document batch job: dedup queries (all but the
    first in seed-shuffled order), then news_pipeline, then its output
    written through the ``jsonlines`` sink. Memos are cold at the
    start of every job and built on first touch inside it."""

    name = "corpus_batch"
    restarts_per_pass = True

    def __init__(self, workdir: str, seed: int):
        self.dir = inputs.CORPUS_DIR  # read only; the sink writes to workdir
        self.workdir = workdir
        self.seed = seed
        self._oracle = None

    def prepare(self) -> None:
        self.n_docs = inputs.documents(
            os.path.join(self.dir, "documents.parquet")).num_rows
        shuffled = np.random.default_rng([self.seed, 1]).permutation(CORPUS_SHUFFLED)
        self.order = [CORPUS_FIRST, *(str(q) for q in shuffled), *CORPUS_TAIL]

    def probe(self, bench) -> None:
        """The light op that ends a set-up: one memo-free dedup query."""
        from data_pipeline_playground_spark import registry
        registry.all_queries()[CORPUS_FIRST](bench.spark, self.dir).toPandas()

    def warmup(self, bench) -> None:
        """None: every job starts from a fresh session by design."""

    def run_pass(self, bench, n: int) -> None:
        from data_pipeline_playground_spark import registry
        queries = registry.all_queries()
        bench.fresh_session()
        pipeline_out = None
        for name in self.order:
            # toPandas: the Arrow fetch the oracle comparison reads
            res = bench.op(name, lambda q=queries[name]: _timed_df(
                bench.tracer, "queries", lambda: q(bench.spark, self.dir),
                lambda df: df.toPandas()))
            if name == "news_pipeline" and res is not None:
                pipeline_out = res
        if pipeline_out is not None:
            bench.op("write_jsonlines", lambda: self._write(bench, n, *pipeline_out))

    def _write(self, bench, n: int, df, pdf):
        from data_pipeline_playground_spark.sources.jsonlines_sink import (
            JsonLinesDataSource,
        )
        out = os.path.join(self.workdir, f"jsonl-{bench.phase}-{n}")
        shutil.rmtree(out, ignore_errors=True)
        with bench.tracer.span("sources.write", rows=len(pdf)):
            spark = bench.spark
            spark.dataSource.register(JsonLinesDataSource)
            spark.createDataFrame(pdf, schema=df.schema).write.format(
                "jsonlines").mode("append").option("path", out).save()
        return out, len(pdf), list(pdf.columns)

    def _compare(self, name: str, pdf) -> None:
        """Compare against DuckDB on the same parquet (raises AssertionError)."""
        from data_pipeline_playground_spark import registry
        from tests.oracle import compare

        if self._oracle is None:
            import duckdb

            con = duckdb.connect()
            con.execute("SET TimeZone='UTC'")
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.dir}/documents.parquet')")
            self._oracle = con
        compare(_Fetched(pdf), self._oracle, registry.all_oracle_sql()[name], name)

    def check(self, name: str, result) -> None:
        if name in CORPUS_QUERIES:
            self._compare(name, result[1])
        elif name == "news_pipeline":
            rows = result[1]
            _require(len(rows) >= 2, "fewer than two clusters")
            _require(int(rows.n_articles.sum()) <= self.n_docs, "more articles than docs")
            _require(bool((rows.n_articles > 0).all()), "empty cluster")
            for kw, summ in zip(rows.keywords, rows.summary_text):
                _require(bool(kw) and len(kw.split(" ")) <= 5, f"bad keywords {kw!r}")
                _require(bool(summ), "cluster without a summary")
        elif name == "write_jsonlines":
            out, n_rows, columns = result
            _require(os.path.exists(os.path.join(out, "_SUCCESS")), "no _SUCCESS marker")
            lines = []
            for f in sorted(os.listdir(out)):
                if f.startswith("part-"):
                    with open(os.path.join(out, f)) as fh:
                        lines.extend(json.loads(line) for line in fh)
            _require(len(lines) == n_rows, f"{len(lines)} lines for {n_rows} rows")
            _require(all(sorted(r) == sorted(columns) for r in lines), "column mismatch")
        else:
            raise CheckFailed(f"no check for {name}")


class NewsService:
    """Closed-loop GET /search requests to ``run_service_pipeline`` in one
    warm session, results collected. Each request has 12 sections plus a
    reserved heading and about 200 articles drawn from the sf0.1
    ``documents`` table."""

    name = "news_service"
    restarts_per_pass = False

    def __init__(self, workdir: str, seed: int):
        self.seed = seed

    def prepare(self) -> None:
        self.docs = inputs.documents(inputs.SERVICE_POOL)
        self.rng = np.random.default_rng([self.seed, 2])
        self.warm_rng = np.random.default_rng([self.seed, 3])

    def _request(self, bench, req: dict):
        from data_pipeline_playground_spark.plans.service_pipeline import (
            run_service_pipeline,
        )
        spark = bench.spark

        def build():
            sections = spark.createDataFrame(
                pd.DataFrame(req["sections"]),
                "page_title string, line string, toclevel int")
            articles = spark.createDataFrame(
                pd.DataFrame(req["articles"]),
                "_id bigint, title string, text string, section_line string")
            return run_service_pipeline(sections, articles)

        return req, _timed_df(bench.tracer, "plans", build, lambda df: df.collect())[1]

    def probe(self, bench) -> None:
        """The light op that ends a set-up: the request's section ranking."""
        from data_pipeline_playground_spark.sources.http_sources import rank_sections
        req = inputs.service_request(self.docs, self.warm_rng, PROBE_ARTICLES)
        rank_sections(bench.spark.createDataFrame(
            pd.DataFrame(req["sections"]),
            "page_title string, line string, toclevel int")).collect()

    def warmup(self, bench) -> None:
        """Full-size requests, so the timed loop starts with warm Python
        workers and JIT-compiled code: a cold first request costs about
        four steady ones, and after one warm-up request the next few keep
        speeding up."""
        for _ in range(WARMUP_REQUESTS):
            self._request(bench, inputs.service_request(
                self.docs, self.warm_rng, SERVICE_ARTICLES[1] - 1))

    def run_pass(self, bench, n: int) -> None:
        lo, hi = SERVICE_ARTICLES
        req = inputs.service_request(self.docs, self.rng, int(self.rng.integers(lo, hi)))
        bench.op("request", lambda: self._request(bench, req))

    def check(self, name: str, result) -> None:
        req, rows = result
        kept = inputs.expected_sections(req["sections"])
        line_of = dict(zip(req["articles"]["_id"], req["articles"]["section_line"]))
        has_text = {i for i, t in zip(req["articles"]["_id"], req["articles"]["text"]) if t}
        _require(len(rows) > 0, "empty response")
        seen: list[int] = []
        for r in rows:
            _require(r.section not in inputs.RESERVED, f"reserved heading {r.section!r}")
            _require(r.section in kept, f"unranked section {r.section!r}")
            _require(r.n_articles == len(r.article_ids) > 0, "article count mismatch")
            _require(r.summary_ids is not None and 1 <= len(r.summary_ids) <= 3,
                     "summary size outside 1..3")
            _require(set(r.summary_ids) <= set(r.article_ids), "summary not among articles")
            for i in r.article_ids:
                _require(line_of.get(i) == r.section and i in has_text,
                         f"article {i} in the wrong section or without text")
            seen.extend(r.article_ids)
        _require(len(seen) == len(set(seen)), "article in more than one section")


WORKLOADS = {w.name: w for w in (CorpusBatch, NewsService)}
