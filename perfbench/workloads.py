"""The workloads. Each is one client in one process, in a closed loop:
the next op starts when the previous one returned. ``setup`` generates
inputs, bootstraps state, computes the oracle answers and, for
``interactive``, runs one untimed warm-up cycle; ``rep`` runs one
repetition of timed ops (a request cycle, or a day); ``detail`` gives
the workload's own named metrics (printed, and kept in the run
manifest)."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from . import gen
from .harness import Ops, check, dir_bytes, dir_files, restore, rows_hash
from .stats import latency_metrics

K = 3  # RAG top-k
# registry bench queries, one per operator family (multi-join, aggregate,
# text, window, sessionization, vector k-NN). All carry a DuckDB oracle;
# the near-dup ones (q44, q52, q59) belong to curation, and q55/q58 have
# no oracle to check against. The other oracled bench queries (q12, q15,
# q18, q42) are left out to keep one cycle short.
QUERIES = (
    "q00_monthly_revenue_by_region", "q04_pricing_summary", "q24_top_tokens",
    "q32_tumbling_hourly", "q33_sessionization", "q36_knn_join",
)
RAG_KINDS = ("retrieve", "rag_answer", "hybrid_retrieve")


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


class RagOracle:
    """NumPy brute force over a collected store: cosine top-k in the
    store's (sim desc, id asc) order, and the hybrid channel fusion with
    the BM25 channel from the package's DuckDB mirror (``bm25_oracle_sql``)."""

    def __init__(self, rows, store_parquet: str):
        self.url = [r["url"] for r in rows]
        self.key = [r["chunk_key"] for r in rows] if rows and "chunk_key" in rows[0] else None
        self.text = [r["text"] for r in rows]
        e = np.array([r["embedding"] for r in rows], dtype=np.float64)
        self.emb = e / np.linalg.norm(e, axis=1, keepdims=True)
        self.store_parquet = store_parquet

    def _cos(self, q: str):
        from mlb_data_pipeline_spark.functions.embed import fake_encode

        v = np.array(fake_encode(q), dtype=np.float64)
        return self.emb @ (v / np.linalg.norm(v))

    def top_rows(self, q: str, k: int, ids: list[str], sims=None) -> list[int]:
        sims = self._cos(q) if sims is None else sims
        return sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:k]

    def topk(self, q: str, k: int, ids: list[str]) -> list[tuple[str, float]]:
        sims = self._cos(q)
        return [(ids[i], float(sims[i])) for i in self.top_rows(q, k, ids, sims)]

    def check_ranked(self, got_ids: list[str], want: list[tuple[str, float]], what: str) -> None:
        """Same ids in the same order; a swap is accepted only between
        near-ties (|sim difference| < 1e-9: float summation order)."""
        check(len(got_ids) == len(want), f"{what}: {len(got_ids)} rows, want {len(want)}")
        sims = dict(want)
        for g, (w, ws) in zip(got_ids, want):
            if g != w and not (g in sims and abs(sims[g] - ws) < 1e-9):
                check(False, f"{what}: got {got_ids}, want {[x for x, _ in want]}")

    def hybrid(self, q: str, k: int, channel_k: int = 20, k_rrf: float = 60.0) -> list[str]:
        import duckdb

        from mlb_data_pipeline_spark.operators.search import bm25_oracle_sql, tokenize_query

        con = duckdb.connect()
        con.execute(f"CREATE VIEW store AS SELECT * FROM read_parquet('{self.store_parquet}/*.parquet')")
        terms = tokenize_query(q)
        bm = {}
        if terms:
            sql = bm25_oracle_sql(terms, table="store", id_col="chunk_key", k=channel_k)
            bm = {r[1]: r[2] for r in con.execute(sql).fetchall()}
        con.close()
        vr = {key: i + 1 for i, (key, _s) in enumerate(self.topk(q, channel_k, self.key))}
        score = {}
        for key in set(bm) | set(vr):
            s = (1.0 / (k_rrf + bm[key]) if key in bm else 0.0)
            score[key] = s + (1.0 / (k_rrf + vr[key]) if key in vr else 0.0)
        return [key for key, _ in sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def _rag_op(kind: str, spark, store, question: str, tracer):
    from mlb_data_pipeline_spark.pipelines import rag

    with tracer.span("rag.build", "pipelines.rag"):
        if kind == "retrieve":
            df = rag.retrieve(spark, store, question, K)
        elif kind == "rag_answer":
            df = rag.rag_answer(spark, store, question, K)
        else:
            df = rag.hybrid_retrieve(spark, store, question, K, id_col="chunk_key")
    return df.collect()


def _rag_check(kind: str, oracle: RagOracle, question: str):
    def chk(rows):
        if kind == "retrieve":
            oracle.check_ranked([r["url"] for r in sorted(rows, key=lambda r: r["rank"])],
                                oracle.topk(question, K, oracle.url), "retrieve")
        elif kind == "rag_answer":
            top = oracle.top_rows(question, K, oracle.url)
            check(len(rows) == 1 and rows[0]["n_docs"] == len(top), "rag_answer: wrong n_docs")
            ctx = "\n\n".join(oracle.text[i] for i in top)
            check(rows[0]["context"] == ctx, "rag_answer: context differs from brute-force top-k")
            check(question in rows[0]["prompt"], "rag_answer: prompt lacks the question")
        else:
            got = [r["chunk_key"] for r in rows]
            want = oracle.hybrid(question, K)
            check(got == want, f"hybrid_retrieve: got {got}, want {want}")
    return chk


# --- interactive ---------------------------------------------------------------

class Interactive:
    name = "interactive"
    unit = "request"

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, warm: Ops):
        import duckdb

        from mlb_data_pipeline_spark.catalog import TABLES, table_path
        from mlb_data_pipeline_spark.pipelines.rag import build_chunk_store
        from mlb_data_pipeline_spark.plans import REGISTRY, load_all

        c = self.ctx
        spark = c.spark
        load_all()
        self.sf_dir = os.path.join(c.run_dir, "star")
        tables = gen.star_tables(c.seed)
        c.input_bytes = sum(gen.write_table(table_path(self.sf_dir, n), t) for n, t in tables.items())
        c.sizes = {n: t.num_rows for n, t in tables.items()}
        c.mark("generate")
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.sf_dir, t)}')")
        self.oracle = {}
        for q in QUERIES:
            res = con.execute(REGISTRY[q].oracle)
            self.oracle[q] = rows_hash([d[0] for d in res.description], res.fetchall())
        con.close()
        c.mark("oracle")
        from pyspark.sql import functions as F

        docs = spark.read.parquet(table_path(self.sf_dir, "documents")).select(
            F.col("doc_id").cast("string").alias("url"), "text")
        self.store_path = os.path.join(c.run_dir, "chunk_store")
        build_chunk_store(docs).write.mode("overwrite").parquet(self.store_path)
        self.store = spark.read.parquet(self.store_path)
        rows = self.store.select("chunk_key", "url", "text", "embedding").collect()
        self.rag = RagOracle([r.asDict() for r in rows], self.store_path)
        c.sizes["chunks"] = len(rows)
        c.mark("chunk_store")
        self.rep(-1, warm)  # warm-up: every request once, untimed

    def _query(self, q: str):
        from mlb_data_pipeline_spark.plans import REGISTRY

        c = self.ctx
        with c.tracer.span("plans.build", "plans"):
            df = REGISTRY[q].spark(c.spark, self.sf_dir)
        return df.columns, df.collect()

    def rep(self, i: int, ops: Ops):
        """One cycle: every query once plus one request of each RAG kind,
        in a seeded order, with fresh seeded questions."""
        c = self.ctx
        r = gen.rng(c.seed, "order", i + 1)
        reqs = [("query", q) for q in QUERIES] + [("rag", k) for k in RAG_KINDS]
        qs = gen.questions(c.seed, self.rag.text, len(RAG_KINDS), sub=i + 1)
        for j in r.permutation(len(reqs)):
            kind, what = reqs[int(j)]
            if kind == "query":
                want = self.oracle[what]
                ops.run("query", "query", lambda q=what: self._query(q),
                        lambda out, w=want, q=what: check(rows_hash(*out) == w, f"{q}: rows differ from oracle"),
                        name=what)
            else:
                q = qs.pop()
                ops.run("rag", "rag", lambda k=what, q=q: _rag_op(k, c.spark, self.store, q, c.tracer),
                        _rag_check(what, self.rag, q), name=what)

    def detail(self, ops: Ops) -> dict:
        return {**latency_metrics("query", ops.walls["query"]), **latency_metrics("rag", ops.walls["rag"])}


# --- lake_day --------------------------------------------------------------------

GAME_SCHEMA = ("game_id long, game_date date, team string, opponent string, runs int, hits int, "
               "attendance long, note string")
STAT_COLS = ["game_id", "game_date", "runs"]


class LakeDay:
    name = "lake_day"
    unit = "rep"

    def __init__(self, ctx):
        self.ctx = ctx

    def _paths(self, base: str) -> dict[str, str]:
        return {k: os.path.join(base, k) for k in ("games", "manifest", "content", "store")}

    def setup(self, warm: Ops):
        """No warm-up day: a daily batch job starts a fresh process each
        day and pays its cold start every run, so the day is timed cold.
        The bootstrap has run lake_write, the daily pipeline and the
        signature-store build once already."""
        from mlb_data_pipeline_spark.catalog import register_lake_table
        from mlb_data_pipeline_spark.operators.layout import save_scan_manifest
        from mlb_data_pipeline_spark.operators.snapshots import lake_write
        from mlb_data_pipeline_spark.pipelines.daily import daily_content_pipeline

        c = self.ctx
        spark = c.spark
        self.inputs = os.path.join(c.run_dir, "inputs")
        self.boot = self._paths(os.path.join(c.run_dir, "boot"))
        self.live = self._paths(os.path.join(c.run_dir, "live"))
        boot_games = gen.gamelog(c.seed, 0, 0, gen.LAKE_BASE_ROWS, -1)
        boot_articles = gen.articles(c.seed, -1, gen.ARTICLES_BOOT)
        self.boot_bytes = (gen.write_table(f"{self.inputs}/boot/games.parquet", boot_games)
                           + gen.write_table(f"{self.inputs}/boot/articles.parquet", boot_articles))
        c.input_bytes = self.boot_bytes
        c.mark("generate")
        games = spark.read.parquet(f"{self.inputs}/boot/games.parquet")
        lake_write(spark, games.repartitionByRange(8, "game_id"), self.boot["games"])
        save_scan_manifest(spark, self.boot["games"], STAT_COLS, self.boot["manifest"])
        daily_content_pipeline(spark, spark.read.parquet(f"{self.inputs}/boot/articles.parquet"),
                               self.boot["content"], self.boot["store"])
        self.curation = CurationPass(c, os.path.join(c.run_dir, "boot"))
        c.mark("bootstrap")
        register_lake_table(spark, "games", self.live["games"], scan_manifest=self.live["manifest"])
        self.day_inputs: dict[int, tuple[dict, int]] = {}
        c.sizes = {"boot_games": gen.LAKE_BASE_ROWS, "boot_articles": gen.ARTICLES_BOOT,
                   "day_articles": gen.ARTICLES_DAY, "day_append_rows": gen.LAKE_DAY_ROWS,
                   "day_merge_rows": gen.MERGE_ROWS, "day_dv_delete_rows": gen.DV_DELETE_ROWS,
                   "day_branch_rows": gen.LAKE_DAY_ROWS // 2,
                   "day_stream_rows": gen.LAKE_DAY_ROWS, "day_reads": 5, "day_rag": 2,
                   "corpus_docs": gen.CORPUS_DOCS, "bench_docs": gen.BENCH_DOCS, "day_delta_docs": gen.DELTA_DOCS}
        self.stored_ratio: list[float] = []

    def _day(self, day: int) -> tuple[dict, int]:
        """The day's inputs, generated once and written as parquet."""
        if day not in self.day_inputs:
            c = self.ctx
            d = gen.lake_day_inputs(c.seed, day)
            base = f"{self.inputs}/day{day}"
            n = gen.write_table(f"{base}/articles.parquet", d["articles"])
            for k in ("append", "corrections", "branch"):
                n += gen.write_table(f"{base}/{k}.parquet", d[k])
            for j, t in enumerate(d["stream"]):
                n += gen.write_table(f"{base}/stream/part-{j}.parquet", t)
            self.day_inputs[day] = (d, n)
        return self.day_inputs[day]

    @staticmethod
    def _timed_write(ops: Ops, kind: str, layer: str, name: str, fn, *paths: str):
        """A timed write op; a traced run records the files and bytes it
        added under ``paths``."""
        before = [dir_files(p) for p in paths]
        ops.run(kind, layer, fn, name=name)
        s = ops.last_span
        if s is not None:
            new = [(a, f) for b, p in zip(before, paths) for a in [dir_files(p)] for f in a if f not in b]
            s.attrs.update({"files_added": len(new), "bytes_added": sum(a[f] for a, f in new)})

    def rep(self, i: int, ops: Ops):
        from pyspark.sql import functions as F

        from mlb_data_pipeline_spark.catalog import lake_count, lake_delete_where, lake_scan
        from mlb_data_pipeline_spark.operators.layout import append_scan_manifest
        from mlb_data_pipeline_spark.operators.snapshots import (
            lake_branch_append, lake_branch_create, lake_merge, lake_publish_branch, lake_write,
            read_snapshot, snapshot_files)
        from mlb_data_pipeline_spark.pipelines.daily import daily_content_pipeline
        from mlb_data_pipeline_spark.streaming.jobs import lake_snapshot_stream

        c = self.ctx
        spark, tr, live = c.spark, c.tracer, self.live
        day = i
        for k in live:
            restore(self.boot[k], live[k])
        d, in_bytes = self._day(day)
        base = f"{self.inputs}/day{day}"
        games = live["games"]

        # writes
        arts = spark.read.parquet(f"{base}/articles.parquet")
        self._timed_write(ops, "ingest", "pipelines.daily", "daily",
                          lambda: daily_content_pipeline(spark, arts, live["content"], live["store"]),
                          live["content"], live["store"])
        if ops.last_span is not None:
            ops.last_span.attrs["input_bytes"] = os.path.getsize(f"{base}/articles.parquet")
        def commit(kind, fn):
            self._timed_write(ops, "commit", "snapshots", kind, fn, games)

        commit("append", lambda: lake_write(spark, spark.read.parquet(f"{base}/append.parquet"), games))
        commit("merge", lambda: lake_merge(spark, games, spark.read.parquet(f"{base}/corrections.parquet"),
                                           "game_id", scan_manifest=live["manifest"]))
        commit("dv_delete", lambda: lake_delete_where(spark, "games", d["delete_predicate"], use_dv=True))
        branch = f"day{day}"

        def publish():
            lake_branch_create(games, branch)
            lake_branch_append(spark, games, branch, spark.read.parquet(f"{base}/branch.parquet"))
            return lake_publish_branch(games, branch, spark=spark)

        commit("publish", publish)

        def stream():
            rows = spark.readStream.schema(GAME_SCHEMA).option("maxFilesPerTrigger", 1).parquet(f"{base}/stream")
            lake_snapshot_stream(rows, games, os.path.join(c.run_dir, "ckpt", f"{day}-{time.time_ns()}"))

        commit("stream", stream)
        with tr.span("catalog.manifest", "catalog"):
            append_scan_manifest(spark, games, STAT_COLS, live["manifest"])
        # append + branch + two stream batches - the deleted range; merges only update
        expect_rows = gen.LAKE_BASE_ROWS + gen.LAKE_DAY_ROWS * 5 // 2 - gen.DV_DELETE_ROWS
        ops.run("verify", "catalog", lambda: lake_count(spark, "games"),
                lambda n: check(n == expect_rows, f"lake rows {n}, want {expect_rows}"), name="count_all")

        # reads: each shape once, through lake_scan + aggregate or lake_count
        agg = [F.count(F.lit(1)).alias("n"), F.sum("runs").alias("runs"), F.sum("attendance").alias("att")]
        for j, (shape, pred, travel) in enumerate(gen.lake_predicates(c.seed, day)):
            version = 1 if travel else None
            truth = (lambda p=pred, v=version: read_snapshot(spark, games, v).filter(p).agg(*agg).collect()[0])
            if j % 2 == 0:
                scanned = {}

                def scan(pred=pred, version=version, scanned=scanned):
                    with tr.span("catalog.lake_scan", "catalog") as s:
                        scanned["df"] = lake_scan(spark, "games", pred, version=version)
                    scanned["span"] = s
                    return scanned["df"].agg(*agg).collect()[0]

                ops.run("scan", "catalog", scan, lambda row, t=truth, p=pred: check(
                    tuple(row) == tuple(t()), f"lake_scan({p!r}) = {tuple(row)}, unpruned read gives {tuple(t())}"),
                    name=f"scan_{shape}")
                if scanned.get("span") is not None:  # traced: the share of live files the pruned read opens
                    scanned["span"].attrs["files_read_frac"] = (
                        len(scanned["df"].inputFiles()) / max(1, len(snapshot_files(games, version))))
            else:
                ops.run("scan", "catalog", lambda p=pred, v=version: lake_count(spark, "games", p, v),
                        lambda n, t=truth, p=pred: check(n == t()["n"], f"lake_count({p!r}) = {n}, want {t()['n']}"),
                        name=f"count_{shape}")

        # retrieval over the store this day just upserted
        store = spark.read.parquet(live["store"])
        oracle = None
        if ops.checks:
            oracle = RagOracle([r.asDict() for r in store.select("url", "text", "embedding").collect()], live["store"])
        texts = d["articles"].column("body").to_pylist()
        for q in gen.questions(c.seed, [t for t in texts if t], 2, sub=1000 + day):
            ops.run("rag", "rag", lambda q=q: _rag_op("retrieve", spark, store, q, tr),
                    _rag_check("retrieve", oracle, q), name="retrieve")
        stored = dir_bytes(*(live[k] for k in ("games", "manifest", "content", "store")))
        self.stored_ratio.append(stored / (self.boot_bytes + in_bytes))
        self.curation.run(ops, day)

    def detail(self, ops: Ops) -> dict:
        out = {**latency_metrics("ingest", ops.walls["ingest"]), **latency_metrics("commit", ops.walls["commit"]),
               **latency_metrics("scan", ops.walls["scan"]), **latency_metrics("rag", ops.walls["rag"])}
        if self.stored_ratio:
            out["stored_bytes_per_input_byte"] = (_median(self.stored_ratio), "ratio")
        if self.curation.docs_per_s:
            out["docs_per_s"] = (_median(self.curation.docs_per_s), "docs/s")
        return out


# --- curation --------------------------------------------------------------------

MIX = {"web": 1.0, "news": 1.0}
PIPE_NEARDUP = 0.9  # the daily gate: near-verbatim copies only
CLUSTER_JACCARD = 0.5  # survivor clustering: looser, run at corpus re-version time
CLUSTER_HASHES = 8


class CurationPass:
    """The day's curation step: the pretraining chain over a seeded delta
    with planted cases against a restored signature store, then survivor
    near-dup clustering. Output checks: the funnel, the released ids,
    redaction and the clustered kept set all equal what was planted."""

    def __init__(self, ctx, bootstrap_dir: str):
        from mlb_data_pipeline_spark.operators.dedup import build_signature_store

        c = self.ctx = ctx
        self.inputs = os.path.join(c.run_dir, "inputs", "curation")
        inp = gen.curation_inputs(c.seed, gen.DELTA_DOCS, 0)
        for k in ("corpus", "bench"):
            gen.write_table(f"{self.inputs}/{k}.parquet", inp[k])
        self.boot_store = os.path.join(bootstrap_dir, "signatures")
        build_signature_store(c.spark.read.parquet(f"{self.inputs}/corpus.parquet"), "doc_id", "text",
                              self.boot_store)
        self.store = os.path.join(c.run_dir, "signatures")
        self.out = os.path.join(c.run_dir, "release")
        self.docs_per_s: list[float] = []
        self.funnels: list[dict] = []

    def run(self, ops: Ops, day: int):
        from mlb_data_pipeline_spark.operators.dedup import minhash_neardup_pairs, neardup_dedup
        from mlb_data_pipeline_spark.pipelines.pretraining import pretraining_data_pipeline

        c = self.ctx
        spark, tr = c.spark, c.tracer
        inp = gen.curation_inputs(c.seed, gen.DELTA_DOCS, day + 1)
        expect, n = inp["expect"], inp["delta"].num_rows
        gen.write_table(f"{self.inputs}/delta{day}.parquet", inp["delta"])
        restore(self.boot_store, self.store)
        shutil.rmtree(self.out, ignore_errors=True)
        delta = spark.read.parquet(f"{self.inputs}/delta{day}.parquet")
        bench = spark.read.parquet(f"{self.inputs}/bench.parquet")
        funnel: dict = {}

        def timed():
            t0 = time.perf_counter()
            with tr.span("pretraining", "pipelines.pretraining"):
                pretraining_data_pipeline(spark, delta, bench, self.store, self.out, mix=MIX,
                                          neardup_threshold=PIPE_NEARDUP, metrics_out=funnel).collect()
            with tr.span("dedup.cluster", "operators.dedup"):
                survivors = spark.read.parquet(self.out).select("doc_id", "text")
                pairs = minhash_neardup_pairs(survivors, "doc_id", "text", CLUSTER_JACCARD, n_hashes=CLUSTER_HASHES)
                kept = {r.doc_id for r in neardup_dedup(survivors, pairs, "doc_id").select("doc_id").collect()}
            self.docs_per_s.append(n / (time.perf_counter() - t0))
            return kept

        def chk(kept):
            check(funnel == expect["funnel"], f"funnel {funnel}, planted {expect['funnel']}")
            rel = spark.read.parquet(self.out)
            released = {r.doc_id for r in rel.select("doc_id").collect()}
            check(released == expect["released"],
                  f"released {len(released)} docs, planted {len(expect['released'])} "
                  f"(sym. diff {len(released ^ expect['released'])})")
            n_pii = rel.filter(rel.text.contains("<EMAIL>")).count()
            n_raw = rel.filter(rel.text.contains("@example.org")).count()
            check(n_pii == expect["pii"] and n_raw == 0, f"redaction: {n_pii} redacted, {n_raw} raw emails")
            check(kept == expect["kept_after_cluster"],
                  f"cluster dedup kept {len(kept)}, planted {len(expect['kept_after_cluster'])}")

        ops.run("curation", "pipelines.pretraining", timed, chk, name="pretraining+cluster")
        self.funnels.append(funnel)
        if tr.on:
            self._trace_dedup()

    def _trace_dedup(self):
        """Traced runs only: candidate vs verified pairs and the CC step
        on the same survivors, in spans of their own."""
        from pyspark.sql import functions as F

        from mlb_data_pipeline_spark.operators.dedup import (
            connected_components, minhash_candidate_pairs, minhash_neardup_pairs, shingle_hashes)

        spark, tr = self.ctx.spark, self.ctx.tracer
        survivors = spark.read.parquet(self.out).select("doc_id", "text")
        with tr.span("dedup.candidates", "operators.dedup") as s:
            sh = survivors.select("doc_id", shingle_hashes("text", 3).alias("sh"))
            s.attrs["pairs"] = minhash_candidate_pairs(sh, "doc_id", "sh", CLUSTER_HASHES).count()
        with tr.span("dedup.verified", "operators.dedup") as s:
            pairs = minhash_neardup_pairs(survivors, "doc_id", "text", CLUSTER_JACCARD, n_hashes=CLUSTER_HASHES)
            pairs = pairs.localCheckpoint(eager=True)
            s.attrs["pairs"] = pairs.count()
        with tr.span("dedup.cc", "operators.dedup"):
            connected_components(pairs).agg(F.count(F.lit(1))).collect()


WORKLOADS = {w.name: w for w in (Interactive, LakeDay)}
