"""The four benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

``prepare()``  generates seeded inputs as parquet files (no Spark; the
               benchmark's own cost, never timed);
``setup()``    program work before the first timed operation (nothing
               beyond the session today: every run starts cold, like a
               submitted job, and the first operation pays for it);
``pre_loop()`` fixed timed work before the loop (``engine``'s ingest);
``step(k)``    one closed-loop iteration, returning its operations as
               :class:`Op` records; repeated until the run's time is up;
``finish()``   an optional timed tail (``ingest`` ends with optimize);
``check()``    the correctness gate, outside the timed region; marks
               wrong operations as failed;
``layers()``   traced runs only: standalone materialization of the lazy
               layers on the same inputs, and the per-layer metrics.

Layer metrics are means per operation, so runs of different length
compare.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import reference
from tracing import add_counters

DOCS_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)
META_ARROW = DOCS_ARROW.append(pa.field("metadata", pa.map_(pa.string(), pa.string())))
CURATE_ARROW = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


@dataclass
class Op:
    kind: str
    latency_s: float
    units: int = 0
    error: str | None = None
    data: dict = field(default_factory=dict)
    counted: bool = True  # False for records derived from other ops


def write_docs(path: str, rows, with_meta: bool = False) -> None:
    cols = {
        "doc_id": [r[0] for r in rows],
        "spans": [r[1] for r in rows],
    }
    schema = DOCS_ARROW
    if with_meta:
        cols["metadata"] = [list(r[2].items()) for r in rows]
        schema = META_ARROW
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols, schema=schema), path)


def read_docs(spark, path: str):
    from pyspark.sql.types import MapType, StringType, StructField, StructType

    from srag_spark.schema import DOCUMENTS_SCHEMA

    fields = list(DOCUMENTS_SCHEMA.fields)
    if "metadata" in pq.read_schema(path).names:
        fields.append(StructField("metadata", MapType(StringType(), StringType())))
    schema = StructType(fields)
    return spark.read.schema(schema).parquet(path)


def materialize(df):
    """Run a lazy plan to completion, keeping its result for the next
    stage (a localCheckpoint computes every column, so no projection is
    pruned away)."""
    return df.localCheckpoint(eager=True)


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith("."):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def timed(fn):
    t = time.perf_counter()
    r = fn()
    return r, time.perf_counter() - t


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Workload:
    name = ""
    work_kinds: set = set()  # ops whose units and time give throughput_per_s
    latency_kinds: set = set()  # ops whose median is latency_p50_ms

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work_dir, self.name)
        os.makedirs(self.dir, exist_ok=True)

    @property
    def spark(self):
        return self.ctx.spark

    def span(self, name):
        tr = self.ctx.tracer
        return tr.span(name) if tr is not None else contextlib.nullcontext()

    def pre_loop(self):
        """Fixed timed work before the loop (none by default)."""
        return []

    def finish(self):
        return None

    def layers(self, ops) -> dict:
        return {}

    def install_wrappers(self, tracer) -> None:
        pass


# ---------------------------------------------------------------------------
# extract
# ---------------------------------------------------------------------------
class Extract(Workload):
    """Checkpointed ExtractionPipeline: each cycle runs half the waves,
    then a fresh pipeline on the same output dir resumes the rest."""

    name = "extract"
    work_kinds = latency_kinds = {"run", "resume"}
    N_BUCKETS, WAVE_SIZE = 4, 2

    def prepare(self):
        smoke = self.ctx.smoke
        self.n_docs = 60 if smoke else 3000
        rows = inputs.extraction_docs(self.n_docs, self.ctx.seed, mega_every=30 if smoke else 500)
        self.expected = {d: reference.golden_spans(s) for d, s in rows}
        self.expected = {d: v for d, v in self.expected.items() if v}
        self.docs_path = os.path.join(self.dir, "docs.parquet")
        write_docs(self.docs_path, rows)

    def setup(self):
        self.docs = read_docs(self.spark, self.docs_path)
        self.cycles = 0  # a traced run repeats steps, so output dirs are numbered apart

    def _cycle(self, docs, out):
        from srag_spark.plans.pipeline import ExtractionPipeline

        ops = []
        for kind, max_waves in (("run", 1), ("resume", None)):
            p = ExtractionPipeline(self.spark, out, n_buckets=self.N_BUCKETS, wave_size=self.WAVE_SIZE)
            with self.span(f"pipeline.{kind}"):
                summary, lat = timed(lambda: p.run(docs, max_waves=max_waves))
            bad = summary["failed"] + summary["dead_lettered"]
            ops.append(Op(kind, lat, error=f"buckets failed: {bad}" if bad else None, data={"out": out}))
        ops[-1].units = self.n_docs
        return ops

    def step(self, k):
        self.cycles += 1
        return self._cycle(self.docs, os.path.join(self.dir, f"out-{self.cycles}"))

    def check(self, ops):
        from srag_spark.schema import STATUS_SUCCESS

        ops = [op for op in ops if op.kind in self.work_kinds]
        for run_op, resume_op in zip(ops[::2], ops[1::2]):
            out = run_op.data["out"]
            flat = (
                self.spark.read.parquet(os.path.join(out, "spans"))
                .select("doc_id", "seq", "kind", "text", "media_ref")
                .toPandas()
            )
            rows = list(flat.itertuples(index=False, name=None))
            rows = [tuple(None if v != v else v for v in r) for r in rows]  # NaN → None
            errors = reference.check_spans(rows, self.expected)
            ck = pq.read_table(os.path.join(out, "checkpoints")).to_pandas()
            ok = ck[ck["status"] == STATUS_SUCCESS]
            if sorted(ok["partition_id"]) != list(range(self.N_BUCKETS)):
                errors.append(f"buckets not Success exactly once: {sorted(ok['partition_id'])}")
            if len(ck) != self.N_BUCKETS:
                errors.append(f"{len(ck)} checkpoint rows for {self.N_BUCKETS} buckets")
            if int(ok["docs_processed"].sum()) != self.n_docs:
                errors.append(f"docs_processed {int(ok['docs_processed'].sum())} != {self.n_docs}")
            run_op.data.update(spans=len(rows), ckpt_rows=len(ck),
                               failures=int(ok["parse_failures"].sum()))
            if errors:
                run_op.error = resume_op.error = "; ".join(errors[:3])

    def install_wrappers(self, tracer):
        from srag_spark.plans.pipeline import ExtractionPipeline

        tracer.wrap(ExtractionPipeline, "pending_buckets", "pipeline.pending_buckets")
        tracer.wrap(ExtractionPipeline, "_process_wave", "pipeline.wave")

    def layers(self, ops):
        from srag_spark.operators.parse import extract_documents

        tr, cnt = self.ctx.tracer, self.ctx.counters
        cycles = len(ops) // 2
        busy, parse_c = 0.0, {}
        for _ in range(cycles):
            (_, c), t = timed(lambda: cnt.run("parse", lambda: extract_documents(self.docs)
                                                .write.format("noop").mode("overwrite").save()))
            busy += t
            parse_c = add_counters(parse_c, c)
        files = [dir_files(op.data["out"]) for op in ops[::2]]
        run_s, resume_s = tr.total("pipeline.run") / cycles, tr.total("pipeline.resume") / cycles
        return {
            "parse.busy_s": busy / cycles,
            "parse.python_worker_s": parse_c.get("python_worker_s", 0) / cycles,
            "parse.bytes_to_python": parse_c.get("bytes_to_python", 0) / cycles,
            "parse.bytes_from_python": parse_c.get("bytes_from_python", 0) / cycles,
            "parse.docs_in": self.n_docs,
            "parse.spans_out": mean(op.data["spans"] for op in ops[::2]),
            "parse.parse_failures": mean(op.data["failures"] for op in ops[::2]),
            "pipeline.run_s": run_s,
            "pipeline.resume_s": resume_s,
            "pipeline.pending_buckets_s": tr.total("pipeline.pending_buckets") / cycles,
            "pipeline.self_s": run_s + resume_s - busy / cycles,
            "pipeline.waves": tr.count("pipeline.wave") / cycles,
            "pipeline.files_written": mean(len(f) for f in files),
            "pipeline.bytes_written": mean(sum(f.values()) for f in files),
            "pipeline.checkpoint_rows": mean(op.data["ckpt_rows"] for op in ops[::2]),
        }


# ---------------------------------------------------------------------------
# engine: ingest, then serve
# ---------------------------------------------------------------------------
class Engine(Workload):
    """The engine's write side, then its read side, in one run.

    Fixed ingest phase: one fresh batch through ``SragEngine.ingest`` into
    a new root, then a re-ingest of the same ids with new content
    (replace-entity updates through ``delete_by_key``).  Serve loop, on
    that unoptimized index: one closed-loop client sends rounds of one
    hybrid ``query`` and two ``get_transcript`` point lookups.  The run
    ends with ``optimize()``, timed with the ingest phase."""

    name = "engine"
    work_kinds = {"fresh", "reingest", "optimize"}
    latency_kinds = {"round"}

    def prepare(self):
        smoke = self.ctx.smoke
        self.batch_docs = 20 if smoke else 150
        # up to three ingest phases (a traced run: warm-up, untraced, traced)
        self.batches = inputs.ingest_batches(6, self.batch_docs, self.ctx.seed)
        self.paths = []
        self.latest = {}
        for b, (_, rows) in enumerate(self.batches):
            p = os.path.join(self.dir, f"batch-{b}.parquet")
            write_docs(p, rows, with_meta=True)
            self.paths.append(p)
        self.requests = inputs.serve_requests(
            3000, self.ctx.seed, [r[0] for r in self.batches[0][1]]
        )
        self.next_batch = 0

    def setup(self):
        from srag_spark.api import SragEngine

        self.engine = SragEngine(self.spark, os.path.join(self.dir, "kb"), n_buckets=4)

    # -- write side --------------------------------------------------------
    def pre_loop(self):
        """The fixed ingest phase: the next fresh batch and its re-ingest."""
        b = self.next_batch
        self.next_batch += 2
        ops = [self._ingest(b), self._ingest(b + 1)]
        self.version = self.engine.snapshot_versions()[-1]  # what queries read
        # untimed first query and lookup: the serve loop measures a warm engine
        self.engine.query(self.requests[0][1], limit=5).collect()
        self.engine.get_transcript(self.requests[1][1]).collect()
        return ops

    def _ingest(self, b):
        docs = read_docs(self.spark, self.paths[b])
        before = dir_files(self.engine.root) if self.ctx.tracer else None
        with self.span("api.ingest"):
            stats, lat = timed(lambda: self.engine.ingest(docs))
        for doc_id, spans, _ in self.batches[b][1]:
            self.latest[doc_id] = spans
        op = Op(self.batches[b][0], lat, units=len(self.batches[b][1]), data={"batch": b, "stats": stats})
        if before is not None:
            new = {p: s for p, s in dir_files(self.engine.root).items() if p not in before}
            op.data.update(files=len(new), bytes=sum(new.values()),
                           input_bytes=os.path.getsize(self.paths[b]))
        return op

    def finish(self):
        before = dir_files(self.engine.root)
        with self.span("tables.optimize"):
            _, lat = timed(lambda: self.engine.optimize())
        new = {p: s for p, s in dir_files(self.engine.root).items() if p not in before}
        return Op("optimize", lat, data={"bytes": sum(new.values())})

    # -- read side ---------------------------------------------------------
    def step(self, k):
        """One round: a query and two lookups."""
        reqs = self.requests
        ops = [self._request(reqs[(3 * k + i) % len(reqs)]) for i in range(3)]
        ops.append(Op("round", sum(op.latency_s for op in ops), counted=False))
        return ops

    def _request(self, req):
        if req[0] == "query":
            _, text, flt = req
            with self.span("api.query"):
                rows, lat = timed(lambda: self.engine.query(text, limit=5, flt=flt).collect())
            got = [(r["doc_id"], r["segment_index"], r["text"], r["score"]) for r in rows]
            return Op("query", lat, data={"text": text, "flt": flt, "rows": got, "version": self.version})
        doc_id = req[1]
        with self.span("api.get_transcript"):
            rows, lat = timed(lambda: self.engine.get_transcript(doc_id).collect())
        words = [[w["text"] for w in r["words"]] for r in rows]
        return Op("lookup", lat, data={"doc_id": doc_id, "words": words})

    # -- gates ---------------------------------------------------------------
    def check(self, ops):
        eng = self.engine
        refs = {}
        for op in ops:
            if op.kind in ("fresh", "reingest"):
                rows = self.batches[op.data["batch"]][1]
                want = sum(reference.golden_chunk_count(s) for _, s, _ in rows)
                st = op.data["stats"]
                if (st["documents"], st["chunks"], st["embeddings"]) != (len(rows), want, want):
                    op.error = f"batch counts {st} != ({len(rows)}, {want})"
            elif op.kind == "query":
                v = op.data["version"]
                if v not in refs:
                    refs[v] = reference.RetrievalReference(
                        eng.chunks(version=v).toPandas(), eng.embeddings(version=v).toPandas()
                    )
                want = refs[v].query(op.data["text"], 5, op.data["flt"])
                if not reference.same_results(op.data["rows"], want):
                    op.error = f"query {op.data['text']!r} differs from reference"
            elif op.kind == "lookup":
                if op.data["words"] != [reference.golden_words(self.latest[op.data["doc_id"]])]:
                    op.error = f"lookup {op.data['doc_id']} differs from golden"
        n_tr, n_ch = eng.transcripts().count(), eng.chunks().count()
        want_ch = sum(reference.golden_chunk_count(s) for s in self.latest.values())
        if (n_tr, n_ch) != (len(self.latest), want_ch):
            ops[-1].error = (f"table rows transcripts={n_tr} chunks={n_ch}, "
                             f"want {len(self.latest)}, {want_ch}")

    # -- layers --------------------------------------------------------------
    def install_wrappers(self, tracer):
        import srag_spark.api as api
        from srag_spark.sources import tables

        self.retries = 0

        def on_commit_error(exc):
            if isinstance(exc, tables.ManifestCommitRace):
                self.retries += 1

        tracer.wrap(api, "upsert_by_key", "tables.upsert")
        tracer.wrap(api, "delete_by_key", "tables.delete")
        tracer.wrap(tables, "commit_manifest", "tables.commit", on_commit_error)
        tracer.wrap(api, "commit_manifest", "tables.commit", on_commit_error)
        tracer.wrap(api, "read_table", "tables.read")
        tracer.wrap(api, "read_manifest", "tables.manifest_read")
        tracer.wrap(tables, "read_manifest", "tables.manifest_read")
        tracer.wrap(api, "retrieve_context", "retrieval.retrieve_context")

    def layers(self, ops):
        return {**self._write_layers(ops), **self._read_layers(ops)}

    def _write_layers(self, ops):
        from srag_spark.operators.parse import extract_documents
        from srag_spark.plans.indexing import build_chunks, build_embeddings

        tr, cnt = self.ctx.tracer, self.ctx.counters
        batches = [op for op in ops if op.kind in ("fresh", "reingest")]
        n = max(len(batches), 1)
        acc = {"parse": {}, "chunk": {}, "embed": {}}
        busy = {"parse": 0.0, "chunk": 0.0, "embed": 0.0}
        spans_out = failures = chunks_out = 0

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        for op in batches:
            docs = read_docs(self.spark, self.paths[op.data["batch"]]).select("doc_id", "spans")
            plan = extract_documents(docs)
            (_, c), busy_t = timed(lambda: cnt.run("parse", noop(plan)))
            busy["parse"] += busy_t
            acc["parse"] = add_counters(acc["parse"], c)
            ext = materialize(plan)
            agg = ext.agg(F.sum(F.size("spans")), F.sum("parse_failures")).first()
            spans_out += agg[0] or 0
            failures += agg[1] or 0
            (chunks, c), busy_t = timed(lambda: cnt.run("chunk", lambda: materialize(build_chunks(ext))))
            busy["chunk"] += busy_t
            acc["chunk"] = add_counters(acc["chunk"], c)
            chunks_out += chunks.count()
            (_, c), busy_t = timed(lambda: cnt.run("embed", noop(build_embeddings(chunks))))
            busy["embed"] += busy_t
            acc["embed"] = add_counters(acc["embed"], c)
        opt = [op for op in ops if op.kind == "optimize"]
        in_bytes = sum(op.data["input_bytes"] for op in batches)
        return {
            "parse.busy_s": busy["parse"] / n,
            "parse.python_worker_s": acc["parse"].get("python_worker_s", 0) / n,
            "parse.bytes_to_python": acc["parse"].get("bytes_to_python", 0) / n,
            "parse.bytes_from_python": acc["parse"].get("bytes_from_python", 0) / n,
            "parse.docs_in": self.batch_docs,
            "parse.spans_out": spans_out / n,
            "parse.parse_failures": failures / n,
            "chunk.busy_s": busy["chunk"] / n,
            "chunk.python_worker_s": acc["chunk"].get("python_worker_s", 0) / n,
            "chunk.chunks_out": chunks_out / n,
            "embedding.busy_s": busy["embed"] / n,
            "embedding.python_worker_s": acc["embed"].get("python_worker_s", 0) / n,
            "tables.upsert_s": tr.total("tables.upsert") / n,
            "tables.delete_s": tr.total("tables.delete") / n,
            "tables.commit_s": tr.total("tables.commit") / n,
            "tables.commits": tr.count("tables.commit") / n,
            "tables.commit_retries": self.retries / n,
            "tables.files_written": mean(op.data["files"] for op in batches),
            "tables.bytes_written_per_input_byte": sum(op.data["bytes"] for op in batches) / max(in_bytes, 1),
            "tables.optimize_s": sum(op.latency_s for op in opt),
            "tables.optimize_bytes_rewritten": sum(op.data["bytes"] for op in opt),
            "api.ingest_self_s": tr.self_time("api.ingest") / n,
        }

    def _read_layers(self, ops):
        from srag_spark.functions.embedding import embed_query, make_rerank_udf
        from srag_spark.operators import retrieval as R
        from srag_spark.sources.tables import lookup_by_key, read_manifest, table_files

        tr, cnt, eng, spark = self.ctx.tracer, self.ctx.counters, self.engine, self.spark
        queries = [op for op in ops if op.kind == "query"]
        lookups = [op for op in ops if op.kind == "lookup"]
        # the snapshot the traced requests read (optimize() ran since)
        v = queries[-1].data["version"] if queries else None
        pins = read_manifest(spark, eng.engine_meta_path, version=v)["tables"]
        chunks, emb = eng.chunks(version=v), eng.embeddings(version=v)
        ms = {k: [] for k in ("cosine", "bm25", "rrf", "resolve", "rerank")}
        cands = []
        for op in queries:
            text, flt = op.data["text"], op.data["flt"]
            qvec = embed_query(text)
            sem, t = timed(lambda: materialize(R.cosine_topk(emb, qvec, R.FUSION_POOL_SIZE, flt)))
            ms["cosine"].append(t)
            lex, t = timed(lambda: materialize(R.bm25_topk(chunks, text, R.FUSION_POOL_SIZE, flt=flt)))
            ms["bm25"].append(t)
            fused, t = timed(lambda: materialize(R.rrf_fuse(sem, lex)))
            ms["rrf"].append(t)
            cand, t = timed(lambda: materialize(R.resolve_candidate_texts(fused, lex, chunks)))
            ms["resolve"].append(t)
            n = cand.count()
            cands.append(n)
            t = 0.0
            if n >= R.MIN_CANDIDATES_FOR_RERANK:
                scored = cand.select("doc_id", "segment_index", "text",
                                     make_rerank_udf(text)(F.col("text")).alias("score"))
                _, t = timed(lambda: materialize(R.filter_reranked(scored, 5)))
            ms["rerank"].append(t)
        jobs = [cnt.run("query", lambda op=op: R.retrieve_context(
            chunks, emb, op.data["text"], limit=5, flt=op.data["flt"]).collect())[1]["jobs"]
            for op in queries]
        files = [cnt.run("lookup", lambda op=op: lookup_by_key(
            spark, eng.transcripts_path, [op.data["doc_id"]], version=pins["transcripts"]
        ).collect())[1]["files_read"] for op in lookups[:4]]
        nq = max(len(queries), 1)
        paths = {"transcripts": eng.transcripts_path, "chunks": eng.chunks_path,
                 "embeddings": eng.embeddings_path, "metrics": eng.metrics_path}
        live = sum(table_files(spark, paths[t], version=tv).count() for t, tv in pins.items())

        def med_ms(xs):
            return statistics.median(xs) * 1e3 if xs else 0.0

        q_med = med_ms([op.latency_s for op in queries])
        return {
            "tables.live_files": live,
            "tables.read_s": tr.total("tables.read") / nq,
            "tables.manifest_reads_per_query": tr.count_within("tables.manifest_read", "api.query") / nq,
            "tables.lookup_ms": med_ms([op.latency_s for op in lookups]),
            "tables.lookup_files_opened": mean(files),
            "api.query_self_ms": tr.self_time("api.query") * 1e3 / nq,
            "retrieval.cosine_topk_ms": med_ms(ms["cosine"]),
            "retrieval.bm25_topk_ms": med_ms(ms["bm25"]),
            "retrieval.rrf_fuse_ms": med_ms(ms["rrf"]),
            "retrieval.resolve_ms": med_ms(ms["resolve"]),
            "retrieval.rerank_ms": med_ms(ms["rerank"]),
            "retrieval.spark_jobs_per_query": mean(jobs),
            "retrieval.rerank_share": med_ms(ms["rerank"]) / q_med if q_med else 0.0,
            "retrieval.candidates_per_query": mean(cands),
        }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------
class Curate(Workload):
    """The frozen corpus_build entry (build_training_corpus over a planted
    corpus) on a seeded documents table."""

    name = "curate"
    work_kinds = latency_kinds = {"build"}

    def prepare(self):
        self.n_docs = 60 if self.ctx.smoke else 400
        self.sf_dir = os.path.join(self.dir, "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(inputs.curate_documents(self.n_docs, self.ctx.seed), schema=CURATE_ARROW),
            os.path.join(self.sf_dir, "documents.parquet"),
        )

    def setup(self):
        import __spark_entry__ as entry

        self.build = entry.queries()["corpus_build"]

    def step(self, k):
        with self.span("corpus.build"):
            (cols, rows), lat = timed(lambda: self._run())
        return [Op("build", lat, units=self.n_docs, data={"cols": cols, "rows": rows})]

    def _run(self):
        df = self.build(self.spark, self.sf_dir)
        return df.columns, df.collect()

    def check(self, ops):
        want = reference.corpus_build_oracle(self.sf_dir, self.ctx.cache_dir)
        for op in ops:
            if op.kind != "build":
                continue
            got = reference.spark_rows_sorted_cols([tuple(r) for r in op.data["rows"]], op.data["cols"])
            if got != want:
                op.error = f"corpus_build: {len(got)} rows differ from the oracle's {len(want)}"

    def layers(self, ops):
        import __spark_entry__ as entry
        from srag_spark.operators.corpus import find_contamination, pack_sequences, sample_mixture
        from srag_spark.operators.textstats import language_pred_cols, quality_metric_cols
        from srag_spark.plans.curation import gate_and_exact_dedup, suppress_neardups
        from srag_spark.operators.dedup import minhash_dedup_pairs

        spark = self.spark
        planted = entry._planted_corpus(spark, self.sf_dir)
        docs = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        langs = ("en", "und")
        pred, _ = language_pred_cols(F.col("text"))
        gate = planted.select(
            "doc_id", "text", pred.alias("pred_lang"),
            quality_metric_cols(F.col("text"))["quality_r"].alias("quality_r"),
        ).filter(F.col("pred_lang").isin(*langs) & (F.col("quality_r") >= 0.45))
        gated, t_gate = timed(lambda: materialize(gate))
        uniq, t_exact = timed(lambda: materialize(gate_and_exact_dedup(planted, langs, 0.45)))
        pairs, t_mh = timed(lambda: materialize(minhash_dedup_pairs(uniq, 16, 4, materialize=False)))
        curated, t_sup = timed(lambda: materialize(suppress_neardups(uniq, 16, 4, 0.5, "greedy", materialize=False)))
        ev = docs.filter(F.col("doc_id") % 50 == 0)

        def decontam():
            cont = find_contamination(curated, ev, n=entry.DECONTAM_N).filter(F.col("contaminated"))
            return materialize(curated.join(cont.select("doc_id"), "doc_id", "left_anti"))

        clean, t_dc = timed(decontam)
        sampled, t_smp = timed(lambda: materialize(
            sample_mixture(clean, entry.BUILD_RATES, group_col="pred_lang", seed=entry.MIX_SEED)))
        packed, t_pack = timed(lambda: materialize(pack_sequences(sampled, entry.PACK_BUDGET)))
        n_pairs = pairs.count()
        verified = pairs.filter(F.col("est_jaccard") >= 0.5).count()
        return {
            "textstats.gate_s": t_gate,
            "textstats.survivors": gated.count(),
            "dedup.exact_s": t_exact,
            "dedup.exact_survivors": uniq.count(),
            "dedup.minhash_s": t_mh,
            "dedup.lsh_candidates": n_pairs,
            "dedup.verified_pairs": verified,
            "dedup.pair_precision": verified / n_pairs if n_pairs else 1.0,
            "dedup.suppress_s": t_sup,
            "dedup.neardup_survivors": curated.count(),
            "corpus.decontam_s": t_dc,
            "corpus.decontam_survivors": clean.count(),
            "corpus.sample_s": t_smp,
            "corpus.sample_survivors": sampled.count(),
            "corpus.pack_s": t_pack,
            "corpus.packed_rows": packed.count(),
        }


WORKLOADS = {w.name: w for w in (Extract, Engine, Curate)}
