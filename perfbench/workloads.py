"""The benchmark's workloads, driven through the package's public layer
functions.

Each workload stages its seeded inputs once (``setup``), then runs passes.
Every pass builds its warehouse, corpus stores or index from empty under a
fresh pass directory, so no pass reads state an earlier pass left. A pass
returns its samples; ``check`` validates the last pass's outputs.

Every call into a layer goes through ``Tracer.call``/``Tracer.collect``
with the layer's module name, and every benchmark op (a batch load, a
read query, a streamed micro-batch drain, a probe) runs inside an op
span, whose job count the replay guard compares across passes.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

import data

LAYERS = {
    "warehouse": ("sources", "steps", "operators.dimension", "operators.snowflake",
                  "operators.scd", "operators.facttable", "engine", "sinks",
                  "functions.aggregators", "streaming.events"),
    "corpus": ("functions.urls", "functions.text", "functions.dedup",
               "functions.sampling", "streaming.corpus",
               "functions.multimodal", "functions.similarity", "streaming.ann"),
}


class PassResult:
    """Samples of one pass (seconds) and its input row count."""

    def __init__(self):
        self.rows = 0
        self.batch: list[float] = []
        self.query: list[float] = []
        self.microbatch: list[float] = []
        self.commit: list[float] = []
        self.counts: dict = {}


class Workload:
    name = ""
    n_checks = 0

    def __init__(self, spark, tracer, listener, rng, run_dir, scale):
        self.spark = spark
        self.tr = tracer
        self.listener = listener
        self.rng = rng
        self.run_dir = run_dir
        self.scale = scale
        self.failures: list[str] = []

    def op(self, name: str):
        return self.tr.span(name, op=True)

    def stream_samples(self, res: PassResult, n_batches: int) -> None:
        """Move the micro-batch progress of the stream that just ended
        into ``res``; a missing progress event is a failed op."""
        got = self.listener.drain(n_batches)
        if len(got) != n_batches:
            self.failures.append(f"stream reported {len(got)} of {n_batches} micro-batches")
        for d in got:
            res.microbatch.append(d.get("triggerExecution", 0) / 1e3)
            res.commit.append((d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)


# ---------------------------------------------------------------------------
# warehouse
# ---------------------------------------------------------------------------

STAR_SQL = """
SELECT d.month, r.r_name, COUNT(*) AS n, ROUND(SUM(f.price), 2) AS revenue
FROM lineorder f
JOIN date d ON f.dateid = d.dateid
JOIN nation n ON f.nationid = n.nationid
JOIN region r ON n.regionid = r.regionid
GROUP BY d.month, r.r_name
"""


class Warehouse(Workload):
    """Incremental star-schema loads with reads beside the writes, then
    the events table streamed through SCD2 maintenance."""

    name = "warehouse"
    n_checks = 5
    # rounds of the four reads after each batch in a timed pass; the
    # warm-up pass runs one, which warms the same code
    READ_ROUNDS = 4

    def setup(self) -> None:
        from pygrametl_spark.catalog import read_parquet

        sp = self.spark
        self.inp = data.warehouse_inputs(self.rng, os.path.join(self.run_dir, "in"), self.scale)
        t = self.inp["tables"]
        self.tables = {n: read_parquet(sp, os.path.join(t, f"{n}.parquet"))
                       for n in ("orders", "lineitem", "customer", "nation", "region",
                                 "customer_changes")}
        self.geo = (self.tables["customer"].select("c_custkey", "c_nationkey")
                    .join(self.tables["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
                    .join(self.tables["region"], F.col("n_regionkey") == F.col("r_regionkey"))
                    .select("c_custkey", "n_name", "r_name"))
        self.last = None

    def run_pass(self, pass_dir: str, timed: bool) -> PassResult:
        from pygrametl_spark import sinks, sources, steps
        from pygrametl_spark.engine import Engine
        from pygrametl_spark.functions import aggregators
        from pygrametl_spark.streaming.events import stream_scd2_maintain
        from pygrametl_spark.tables import (
            AccumulatingSnapshotFactTable, CachedDimension, FactTable,
            SlowlyChangingDimension, SnowflakedDimension,
        )

        sp, tr, T = self.spark, self.tr, self.tables
        res = PassResult()
        res.rows = self.inp["rows"]
        dim = "operators.dimension"
        date = CachedDimension("date", "dateid", ["day", "month", "year"],
                               df=sp.createDataFrame([], "dateid long, day int, month int, year int"))
        region = CachedDimension("region", "regionid", ["r_name"],
                                 df=sp.createDataFrame([], "regionid long, r_name string"))
        nation = CachedDimension("nation", "nationid", ["n_name", "regionid"], ["n_name"],
                                 df=sp.createDataFrame([], "nationid long, n_name string, regionid long"))
        geo = SnowflakedDimension([(nation, region)])
        cust = SlowlyChangingDimension(
            "customer", "custid",
            ["c_custkey", "c_name", "segment", "version", "fromdate", "todate"],
            ["c_custkey"], versionatt="version", fromatt="fromdate", toatt="todate",
            srcdateatt="changedate", type1atts=["c_name"],
            df=sp.createDataFrame([], "custid long, c_custkey long, c_name string, segment string, "
                                      "version long, fromdate timestamp, todate timestamp"))
        fact = FactTable("lineorder", ["dateid", "custid", "nationid", "l_orderkey", "l_linenumber"],
                         ["qty", "price"])
        snap = AccumulatingSnapshotFactTable(
            "order_snapshot", ["o_orderkey"], ["dateid", "custid"], ["lines", "revenue"],
            df=sp.createDataFrame([], "o_orderkey long, dateid long, custid long, lines long, revenue double"))
        eng = Engine(sp, os.path.join(pass_dir, "wh"))
        for t in (date, region, nation, cust):
            eng.register(t)
        eng.register(fact, dependson=[date, cust, nation])
        eng.register(snap, dependson=[date, cust])
        pipeline = steps.connectsteps(
            steps.RenamingFromToStep({"l_quantity": "qty", "l_extendedprice": "price"}),
            steps.MappingStep({"price": lambda c: F.round(c * (1 - F.col("l_discount")), 2)}),
            steps.ValueMappingStep("priority", "o_orderpriority",
                                   {p: i for i, p in enumerate(data.PRIORITIES, 1)}, 0),
        )
        batches = self.inp["batches"]
        for b, plan in enumerate(batches):
            tr.op_id = f"batch{b}"
            t0 = time.perf_counter()
            with self.op("batch"):
                o = tr.call("sources", "FilteringSource", sources.FilteringSource, T["orders"],
                            (F.col("o_orderdate") >= plan["lo"]) & (F.col("o_orderdate") < plan["hi"]))
                o = tr.call("sources", "HashJoiningSource", sources.HashJoiningSource,
                            o, "o_custkey", self.geo, "c_custkey")
                li = tr.call("sources", "HashJoiningSource", sources.HashJoiningSource,
                             T["lineitem"], "l_orderkey", o, "o_orderkey")
                li = tr.call("steps", "pipeline", pipeline, li)
                li = li.withColumns({"day": F.dayofmonth("o_orderdate"),
                                     "month": F.month("o_orderdate"),
                                     "year": F.year("o_orderdate")})
                li = tr.call(dim, "CachedDimension.ensure", date.ensure, li)
                li = tr.call("operators.snowflake", "SnowflakedDimension.ensure", geo.ensure, li)
                ch = tr.call("sources", "FilteringSource", sources.FilteringSource,
                             T["customer_changes"], F.col("batch") == b)
                tr.call("operators.scd", "scdensure", cust.scdensure, ch.drop("batch"))
                keyed = tr.call("operators.scd", "lookup", cust.lookup,
                                li.withColumnRenamed("o_custkey", "c_custkey"))
                tr.call("operators.facttable", "FactTable.insert", fact.insert, keyed)
                per_order = keyed.groupBy("l_orderkey", "dateid", "custid").agg(
                    F.count("*").alias("lines"), F.round(F.sum("price"), 2).alias("revenue")
                ).withColumnRenamed("l_orderkey", "o_orderkey")
                tr.call("operators.facttable", "AccumulatingSnapshotFactTable.ensure",
                        snap.ensure, per_order)
                tr.call("engine", "endload", eng.endload)
                if b == len(batches) - 1:
                    import duckdb

                    sink = Engine(sp, os.path.join(pass_dir, "dims"))
                    for t in (date, region, nation, cust):
                        sink.register(t)
                    db = os.path.join(pass_dir, "dims.duckdb")
                    tr.call("sinks", "PEP249Target", sink.endload,
                            target=sinks.PEP249Target(lambda: duckdb.connect(db)), parquet=False)
            res.batch.append(time.perf_counter() - t0)
            for _ in range(self.READ_ROUNDS if timed else 1):
                self._queries(res, plan, date, cust, fact, eng, aggregators)
        tr.op_id = "stream"
        with self.op("stream_scd2"):
            out = tr.call("streaming.events", "stream_scd2_maintain", stream_scd2_maintain,
                          sp, self.inp["tables"], n_files=self.scale.event_files)
            scd_rows = tr.collect("streaming.events", "stream_scd2_maintain", out)
        self.stream_samples(res, self.scale.event_files)
        self.last = {"fact": fact, "cust": cust, "scd_rows": scd_rows, "snap": snap}
        return res

    def _queries(self, res, plan, date, cust, fact, eng, aggregators):
        sp, tr = self.spark, self.tr
        probe = sp.createDataFrame([(c, plan["probe_at"]) for c in plan["probe_cust"]],
                                   "c_custkey long, at timestamp")
        ops = (
            ("lookupasof", "operators.scd",
             lambda: cust.lookupasof(probe, "at").select("c_custkey", "custid")),
            ("star_sql", "engine", lambda: eng.sql(STAR_SQL)),
            ("crosstab", "functions.aggregators",
             lambda: aggregators.crosstab(fact.df.join(date.df, "dateid"), "nationid", "month",
                                          "qty", colvalues=list(range(1, 13)))),
            ("getbykey", "operators.dimension", lambda: date.getbykey(plan["probe_keys"])),
        )
        for name, layer, build in ops:
            t0 = time.perf_counter()
            with self.op("query." + name):
                rows = tr.collect(layer, name, tr.call(layer, name, build))
            res.query.append(time.perf_counter() - t0)
            if name == "getbykey" and len(rows) != len(plan["probe_keys"]):
                self.failures.append(f"getbykey returned {len(rows)} rows")

    def layer_extras(self, traced) -> dict:
        commits = [sum(r.commit) for r in traced]
        return {"streaming.events.commit_s": (float(np.median(commits)), "s")}

    def check(self) -> None:
        """Fact count and measure sums against DuckDB over the same staged
        slices; no NULL keyref; one open version per SCD member."""
        import duckdb

        last, t = self.last, self.inp["tables"]
        got = last["fact"].df.agg(
            F.count("*").alias("n"), F.round(F.sum("qty"), 2).alias("q"),
            F.round(F.sum("price"), 2).alias("p"),
            F.sum(F.when(F.greatest(*[F.col(k).isNull() for k in last["fact"].keyrefs]), 1)
                  .otherwise(0)).alias("nulls"),
        ).first()
        con = duckdb.connect()
        want = con.execute(f"""
            SELECT COUNT(*), ROUND(SUM(l_quantity), 2),
                   ROUND(SUM(ROUND(l_extendedprice * (1 - l_discount), 2)), 2),
                   COUNT(DISTINCT l_orderkey)
            FROM read_parquet('{t}/lineitem.parquet')""").fetchone()
        con.close()
        if (got["n"], got["q"]) != want[:2] or abs(got["p"] - want[2]) > 0.05:
            self.failures.append(f"fact totals {tuple(got)[:3]} != duckdb {want}")
        if got["nulls"]:
            self.failures.append(f"{got['nulls']} fact rows with a NULL keyref")
        bad = (last["cust"].df.groupBy("c_custkey")
               .agg(F.sum(F.when(F.col("todate").isNull(), 1).otherwise(0)).alias("open"))
               .filter("open != 1").count())
        if bad:
            self.failures.append(f"{bad} customer SCD members without exactly one open version")
        open_by_user: dict = {}
        for r in last["scd_rows"]:
            open_by_user[r["user_id"]] = open_by_user.get(r["user_id"], 0) + (r["todate"] is None)
        if any(v != 1 for v in open_by_user.values()):
            self.failures.append("streamed SCD2 member without exactly one open version")
        # sf0.1 has orders without lineitems; they never reach the snapshot
        if last["snap"].df.count() != want[3]:
            self.failures.append("order snapshot row count differs from orders with lineitems")


# ---------------------------------------------------------------------------
# corpus: curation, then retrieval over the curated documents
# ---------------------------------------------------------------------------


class Corpus(Workload):
    """The corpus pipeline's stage order over the seeded documents, the
    n-gram pair join, the raw corpus re-streamed in shards through the
    streaming exact and MinHash dedup; then the curated documents are
    chunked, embedded and indexed with IVF-PQ, seeded upserts stream into
    the index with synchronous compaction, and the index is probed."""

    name = "corpus"
    n_checks = 5
    PROBES = 3
    SHARD_READS = 8

    def setup(self) -> None:
        from pygrametl_spark.catalog import read_parquet

        self.inp = data.corpus_inputs(self.rng, os.path.join(self.run_dir, "in"), self.scale)
        self.docs = read_parquet(self.spark, os.path.join(self.inp["tables"], "documents.parquet"))
        self.last = None

    def run_pass(self, pass_dir: str, timed: bool) -> PassResult:
        res = PassResult()
        res.rows = self.inp["docs"]
        kept = self._curate(res, pass_dir)
        self._stream_dedup(res)
        self._retrieve(res, kept, pass_dir)
        return res

    def _curate(self, res: PassResult, pass_dir: str):
        """Curation through export, the n-gram pair join and the loader's
        shard reads; returns the curated documents."""
        from pygrametl_spark.catalog import spread
        from pygrametl_spark.functions import dedup as dd
        from pygrametl_spark.functions import sampling as sm
        from pygrametl_spark.functions import text as tx
        from pygrametl_spark.functions import urls as ur

        sp, tr = self.spark, self.tr
        funnel = {"raw": self.inp["docs"]}

        def stage(name, layer, df):
            """Materialize a stage's survivors (attributed to the layer
            whose filter produced them) and count them for the funnel."""
            with tr.materialize(layer, name + ".stage"):
                df = df.localCheckpoint(eager=True)
                funnel[name] = df.count()
            return df

        tr.op_id = "curate"
        t0 = time.perf_counter()
        with self.op("curate"):
            crawl = spread(self.docs).withColumn("url", F.concat(
                F.lit("HTTPS://WWW.Site-"), ((F.col("doc_id") / 2).cast("long") % 40).cast("string"),
                F.lit(".example.com:443/page/"), (F.col("doc_id") / 2).cast("long").cast("string"),
                F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=crawl#top")).otherwise(F.lit("/"))))
            block = sp.createDataFrame([("site-7.example.com",)], "reg_domain string")
            crawl = tr.call("functions.urls", "filter_by_host_blocklist",
                            ur.filter_by_host_blocklist, crawl, block)
            first = tr.call("functions.urls", "url_dedup", ur.url_dedup, crawl, "doc_id", "url")
            kept = stage("urls", "functions.urls", crawl.join(first.select("doc_id"), "doc_id")
                         .select("doc_id", tx.normalize_text("text").alias("text"), "source"))
            gates = tr.call("functions.text", "gopher_rules", tx.gopher_rules, kept,
                            min_words=10, min_stopwords=1).filter("gopher_pass").select("doc_id")
            scored = tr.call("functions.text", "quality_score", tx.quality_score,
                             tr.call("functions.text", "lang_id", tx.lang_id, kept))
            rep = tr.call("functions.text", "repetition_stats", tx.repetition_stats, kept)
            kept = stage("text", "functions.text", scored.join(gates, "doc_id")
                         .join(rep.filter(~F.col("repetitive")).select("doc_id"), "doc_id")
                         .filter(F.col("lang_pred") != "und")
                         .select("doc_id", "text", "source", "quality_score"))
            exact = tr.call("functions.dedup", "exact_dedup", dd.exact_dedup, kept, "doc_id", "text")
            kept = stage("exact", "functions.dedup", kept.join(exact.select("doc_id"), "doc_id"))
            # the pair join below runs on this set: it still holds the near
            # duplicates (the substring stage drops most of them), so the
            # verify step has pairs to keep
            deduped = kept
            spans = tr.call("functions.dedup", "exact_substring_dedup",
                            dd.exact_substring_dedup, kept, k=8)
            kept = stage("substring", "functions.dedup", kept.join(
                spans.filter(F.col("dup_bps") <= 5000).select("doc_id"), "doc_id"))
            clusters = tr.call("functions.dedup", "neardup_clusters", dd.neardup_clusters,
                               kept, threshold=0.5)
            best = tr.call("functions.dedup", "cluster_survivors", dd.cluster_survivors,
                           kept, "doc_id", score="quality_score", clusters=clusters)
            kept = stage("neardup", "functions.dedup",
                         kept.join(best.filter("rk = 1").select("doc_id"), "doc_id"))
            capped = tr.call("functions.sampling", "per_group_cap", sm.per_group_cap,
                             kept.withColumn("_len", F.length("text")), "doc_id", "source",
                             cap=60, order_by=[F.col("_len").desc()])
            kept = stage("sampled", "functions.sampling", kept.join(capped.select("doc_id"), "doc_id"))
            manifest = tr.call("functions.sampling", "write_shuffled_shards",
                               sm.write_shuffled_shards, kept, os.path.join(pass_dir, "train"),
                               "doc_id", n_shards=self.scale.export_shards, seed="epoch0",
                               mode="overwrite")
            funnel["exported"] = sum(r["n_rows"] for r in tr.collect(
                "functions.sampling", "write_shuffled_shards", manifest))
        res.batch.append(time.perf_counter() - t0)

        tr.op_id = "pairs"
        with self.op("ngram_pairs"):
            cand = tr.call("functions.dedup", "ngram_pair_intersections",
                           dd.ngram_pair_intersections, deduped, n=3)
            n_cand = tr.collect("functions.dedup", "ngram_pair_intersections",
                                cand.agg(F.count("*").alias("n")))[0]["n"]
            pairs = tr.call("functions.dedup", "ngram_jaccard_pairs", dd.ngram_jaccard_pairs,
                            deduped, n=3)
            n_pairs = tr.collect("functions.dedup", "ngram_jaccard_pairs",
                                 pairs.agg(F.count("*").alias("n")))[0]["n"]
        res.counts.update(pair_candidates=n_cand, pair_survivors=n_pairs)

        # the loader's read path: whole shards back to the driver, in the
        # seeded shard order
        read, order = 0, self.inp["shard_order"]
        reads = [order[i % len(order)] for i in range(self.SHARD_READS)]
        for i, k in enumerate(reads):
            tr.op_id = f"read{i}"
            t0 = time.perf_counter()
            with self.op("query.shard"):
                rows = tr.collect("functions.sampling", "read_shard",
                                  sp.read.parquet(os.path.join(pass_dir, "train", f"shard={k}")))
            res.query.append(time.perf_counter() - t0)
            read += len(rows)
        manifest_rows = {r["shard"]: r["n_rows"] for r in manifest.collect()}
        funnel["read_ok"] = read == sum(manifest_rows.get(k, 0) for k in reads)
        self.funnel = funnel
        return kept

    def _stream_dedup(self, res: PassResult) -> None:
        from pygrametl_spark.streaming import corpus as sc

        sp, tr, n = self.spark, self.tr, self.scale.doc_shards
        tr.op_id = "stream"
        with self.op("stream_exact"):
            acc = tr.call("streaming.corpus", "stream_dedup_exact", sc.stream_dedup_exact,
                          sp, self.inp["tables"], n_files=n)
            streamed = tr.collect("streaming.corpus", "stream_dedup_exact", acc.select("doc_id"))
        self.stream_samples(res, n)
        with self.op("stream_minhash"):
            acc = tr.call("streaming.corpus", "stream_dedup_minhash", sc.stream_dedup_minhash,
                          sp, self.inp["tables"], n_files=n)
            tr.collect("streaming.corpus", "stream_dedup_minhash", acc)
        self.stream_samples(res, n)
        res.counts["corpus_commit_s"] = sum(res.commit)
        self.streamed = {r["doc_id"] for r in streamed}

    def _retrieve(self, res: PassResult, kept, pass_dir: str) -> None:
        from pygrametl_spark.functions import multimodal as mm
        from pygrametl_spark.functions import similarity as sim
        from pygrametl_spark.functions import text as tx
        from pygrametl_spark.streaming import ann

        sp, tr, n_up = self.spark, self.tr, self.scale.upserts
        index = os.path.join(pass_dir, "ivfpq")
        tr.op_id = "index"
        with self.op("index"):
            chunks = tr.call("functions.text", "chunk_by_tokens", tx.chunk_by_tokens,
                             kept, size=16, overlap=4)
            payload = tr.call("functions.multimodal", "to_binary_payload", mm.to_binary_payload,
                              chunks.withColumn("vec_id", F.col("doc_id") * 1000 + F.col("chunk_id")),
                              "chunk_fp")
            vecs = tr.call("functions.multimodal", "extract_features", mm.extract_features,
                           payload, id_col="vec_id", dim=8)
            vecs = vecs.select("vec_id", F.col("features").alias("embedding"),
                               (F.col("vec_id") % (4 * n_up)).alias("grp")).localCheckpoint(eager=True)
            # a quarter of the vectors arrive late, as upserts
            with tr.span("ivfpq_write_index", "functions.similarity"):
                t0 = time.perf_counter()
                j0 = tr.jobs.next_id()
                sim.ivfpq_write_index(vecs.filter(F.col("grp") >= n_up).select("vec_id", "embedding"),
                                      index, n_clusters=8, m=4, k=16, store_raw=True)
                res.counts["fit"] = (time.perf_counter() - t0, tr.jobs.next_id() - j0)

        upsert = ann.ivfpq_upsert_fn(index, namespace=os.path.join(pass_dir, "ckpt"))
        compact = 0.0
        for i, g in enumerate(self.inp["upsert_order"]):
            tr.op_id = f"upsert{i}"
            t0 = time.perf_counter()
            with self.op("upsert"):
                batch = vecs.filter(F.col("grp") == g).select("vec_id", "embedding")
                tr.call("streaming.ann", "ivfpq_upsert_fn", upsert, batch, i)
                c0 = time.perf_counter()
                tr.call("streaming.ann", "ivfpq_compact", ann.ivfpq_compact, sp, index)
                compact += time.perf_counter() - c0
            res.microbatch.append(time.perf_counter() - t0)
        ann.ivfpq_release_writer(index, namespace=os.path.join(pass_dir, "ckpt"))
        res.counts["compact_s"] = compact

        ids = sorted(r["vec_id"] for r in vecs.select("vec_id").collect())
        pick = np.random.default_rng(self.inp["probe_seed"]).choice(len(ids), self.PROBES,
                                                                    replace=False)
        qids = [ids[i] for i in sorted(pick)]
        qvecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
                 for r in vecs.filter(F.col("vec_id").isin(qids)).collect()}
        found = {}
        for qid in qids:
            tr.op_id = f"probe{qid}"
            q = sp.createDataFrame([(qid, qvecs[qid])], "vec_id long, embedding array<double>")
            t0 = time.perf_counter()
            with self.op("query.probe"):
                hits = tr.collect("functions.similarity", "ivfpq_topk", tr.call(
                    "functions.similarity", "ivfpq_topk", sim.ivfpq_topk, sp, index, q,
                    nprobe=3, k=10, rerank=40))
            res.query.append(time.perf_counter() - t0)
            found[qid] = {h["neighbor_id"] for h in hits}
        tr.op_id = "exact"
        qdf = sp.createDataFrame([(q, qvecs[q]) for q in qids], "vec_id long, embedding array<double>")
        with self.op("exact_topk"):
            exact = tr.collect("functions.similarity", "cosine_topk", tr.call(
                "functions.similarity", "cosine_topk", sim.cosine_topk,
                vecs.select("vec_id", "embedding"), qdf, k=10))
        truth: dict = {}
        for r in exact:
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        res.counts["recall"] = float(np.mean([len(found[q] & truth.get(q, set())) / 10
                                              for q in qids]))
        res.counts["probe_rows"] = [len(found[q]) for q in qids]
        self.last = res.counts

    def layer_extras(self, traced) -> dict:
        med = lambda key: float(np.median([r.counts[key] for r in traced]))  # noqa: E731
        cand, surv = med("pair_candidates"), med("pair_survivors")
        return {
            "functions.dedup.pair_candidates": (cand, "count"),
            "functions.dedup.pair_survival": (surv / cand if cand else 0.0, "ratio"),
            "streaming.corpus.commit_s": (med("corpus_commit_s"), "s"),
            "functions.similarity.fit_s": (float(np.median([r.counts["fit"][0] for r in traced])), "s"),
            "functions.similarity.fit_jobs": (
                float(np.median([r.counts["fit"][1] for r in traced])), "count"),
            "functions.similarity.recall_at_10": (med("recall"), "ratio"),
            "streaming.ann.compact_s": (med("compact_s"), "s"),
        }

    def check(self) -> None:
        """Streamed exact dedup equals batch ``exact_dedup`` on the same
        documents; the funnel never grows and the loader reads what the
        manifest lists; every probe returns 10 rows with recall@10 of at
        least 0.5 against exact ``cosine_topk``."""
        from pygrametl_spark.functions import dedup as dd
        from pygrametl_spark.functions.text import fingerprint

        batch = {r["doc_id"] for r in dd.exact_dedup(
            fingerprint(self.docs), "doc_id", "fp").select("doc_id").collect()}
        if batch != self.streamed:
            self.failures.append(f"streamed exact dedup kept {len(self.streamed)} docs, "
                                 f"batch exact_dedup {len(batch)}")
        f = self.funnel
        seq = [f[k] for k in ("raw", "urls", "text", "exact", "substring", "neardup",
                              "sampled", "exported")]
        if any(b > a for a, b in zip(seq, seq[1:])) or seq[-1] == 0:
            self.failures.append(f"funnel not monotone or empty: {seq}")
        if not f["read_ok"]:
            self.failures.append("loader shard reads disagree with the manifest")
        if any(n != 10 for n in self.last["probe_rows"]):
            self.failures.append(f"probe row counts {self.last['probe_rows']}, want 10 each")
        if self.last["recall"] < 0.5:
            self.failures.append(f"recall@10 {self.last['recall']:.3f} below 0.5")
