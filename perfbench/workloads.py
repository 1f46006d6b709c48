"""The benchmark's workloads: seeded inputs, one timed iteration, and
the checks on its output.

Each workload has ``prepare(seed, dir)``, run before any timing, and
``run(spark, inputs, out_dir, tracer)``, one timed iteration from
inputs on disk to checked output. ``run`` returns an ``Outcome``:
``items``/``failed`` count the per-item checks (a source row, a
document, a delivered key), ``checks`` the run-level ones, and
``counts`` the per-layer counts the traced run reports.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.corpus import CorpusSpec, make_corpus, stage_stream_files, write_parquet

CONTEXT_TOKENS = 1024
NUM_SHARDS = 8
BPE_MERGES = 12
BPE_MAX_BATCH = 6
FILES_PER_TRIGGER = 2
#: share of each stream file's keys re-sent in the next file
RESEND_SHARE = 0.2
CURATION_RECIPE = {
    "filters": [{"type": "quality", "min_score": 0.5}],
    "dedup": [{"type": "exact"}, {"type": "minhash_lsh", "threshold": 0.6}],
    "output": ["doc_id", "text"],
}


@dataclass
class Outcome:
    rows: int
    items: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    #: anything later iterations are compared against (same seed)
    fingerprint: object = None
    batch_ms: list[float] = field(default_factory=list)


# ------------------------------------------------------------------ migrate

@dataclass
class Migrate:
    """The paper's flagship flow: generate -> bulk insert -> extract ->
    transform -> load -> backfill against a fresh mock org."""

    n_rows: int = 5_000
    name: str = "migrate"

    def prepare(self, seed: int, in_dir: str) -> dict:
        # the seed reaches generator.gen_data inside the program on
        # purpose: synthetic generation is one of the engine's features
        return {"seed": seed}

    def run(self, spark, inputs: dict, out_dir: str, tracer) -> Outcome:
        from mriya_spark import pipeline

        org = os.path.join(out_dir, "org")
        with tracer.span("iteration"):
            with _spans_around_saves(tracer, ["connector.write", "mapping.load"]):
                backfill = pipeline.run_mriya_pipeline(
                    spark, org, n_rows=self.n_rows, seed=inputs["seed"]
                )
            with tracer.span("mapping.backfill"):
                rows = backfill.collect()
        return self._check(rows, org)

    def _check(self, rows, org: str) -> Outcome:
        calls = []
        with open(os.path.join(org, "_calls.jsonl")) as f:
            for line in f:
                calls.append(json.loads(line))
        inserts = [c["n_rows"] for c in calls if c["op"] == "insert"]
        got = Counter(r["row_id"] for r in rows)
        ok_ids = {r["row_id"] for r in rows if r["row_id_dst_id"] == f"DST-{r['row_id']}"}
        failed = sum(
            1 for i in range(self.n_rows) if got[i] != 1 or i not in ok_ids
        )
        n_calls = len(inserts)
        return Outcome(
            rows=self.n_rows,
            items=self.n_rows,
            failed=failed,
            checks={
                "insert_chunks_le_200": max(inserts, default=0) <= 200,
                "inserts_total_2n": sum(inserts) == 2 * self.n_rows,
                "no_foreign_rows": set(got) <= set(range(self.n_rows)),
            },
            counts={
                "connector.write_rows": sum(inserts),
                "connector.dml_calls": n_calls,
                "connector.chunk_fill": sum(inserts) / (200 * n_calls) if n_calls else 0.0,
                "connector.read_pages": sum(1 for c in calls if c["op"] == "query_page"),
                "connector.page_index_calls": sum(1 for c in calls if c["op"] == "page_index"),
                "mapping.backfill_rows": len(rows),
            },
        )


@contextmanager
def _spans_around_saves(tracer, names: list[str]):
    """Open one span per ``DataFrameWriter.save`` call, named in call
    order. ``run_mriya_pipeline`` makes its two connector writes inside
    one call; this is the only way to time them from outside it."""
    if not tracer.enabled:
        yield
        return
    from pyspark.sql.readwriter import DataFrameWriter

    original = DataFrameWriter.save
    pending = list(names)

    def save(self, *args, **kwargs):
        with tracer.span(pending.pop(0)):
            return original(self, *args, **kwargs)

    DataFrameWriter.save = save
    try:
        yield
    finally:
        DataFrameWriter.save = original
    if pending:
        raise RuntimeError(f"expected connector writes never ran: {pending}")


# ----------------------------------------------------------- curate_deliver

@dataclass
class CurateDeliver:
    """The LLM training-data flow: curate a corpus and export it as
    packed, verified training shards; then drain an at-least-once file
    stream of documents into a second export through the streaming
    delivery sink."""

    n_docs: int = 2000
    n_stream_docs: int = 4000
    stream_files: int = 4
    name: str = "curate_deliver"

    def prepare(self, seed: int, in_dir: str) -> dict:
        corpus = make_corpus(CorpusSpec(n_docs=self.n_docs), seed)
        path = write_parquet(corpus.table(), os.path.join(in_dir, "corpus.parquet"))
        stream_docs = make_corpus(
            CorpusSpec(n_docs=self.n_stream_docs, exact_share=0.0, near_share=0.0),
            seed + 1,
        )
        stream = stage_stream_files(
            stream_docs, os.path.join(in_dir, "stream"),
            n_files=self.stream_files, resend_share=RESEND_SHARE, seed=seed,
        )
        return {"corpus": corpus, "corpus_path": path, "stream": stream}

    def run(self, spark, inputs: dict, out_dir: str, tracer) -> Outcome:
        with tracer.span("iteration"):
            out = self._curate_export(spark, inputs, out_dir, tracer)
            self._stream_deliver(spark, inputs, out_dir, tracer, out)
        out.rows = self.n_docs + inputs["stream"].rows
        return out

    def _curate_export(self, spark, inputs, out_dir, tracer) -> Outcome:
        from pyspark.sql import functions as F

        from mriya_spark import sinks
        from mriya_spark.caching import release_caches
        from mriya_spark.curation import CurationSpec
        from mriya_spark.ops import text as T

        curated_path = os.path.join(out_dir, "curated")
        shards_path = os.path.join(out_dir, "shards")
        with tracer.span("curation.build"):
            spec = CurationSpec.from_obj(CURATION_RECIPE)
            spec.build(spark.read.parquet(inputs["corpus_path"])).write.parquet(
                curated_path
            )
            release_caches()
        docs = spark.read.parquet(curated_path)
        with tracer.span("text.word_freq"):
            wf = T.bpe_word_freq(docs).localCheckpoint(eager=True)
        with tracer.span("text.bpe_train"):
            merges = T.bpe_train(
                docs, n_merges=BPE_MERGES, max_batch=BPE_MAX_BATCH, word_freq=wf
            )
        with tracer.span("text.vocab"):
            vseg = T.bpe_segment_vocab(docs, merges, word_freq=wf).localCheckpoint(
                eager=True
            )
            vocab = T.bpe_symbols(docs, merges, vseg=vseg)
        ids = T.bpe_token_ids(docs, merges, symbols=vocab, vseg=vseg).withColumn(
            "doc_ids", F.array("doc_id")
        )
        packed = T.pack_windows_bestfit(
            ids, context_tokens=CONTEXT_TOKENS, shards=NUM_SHARDS,
            count_col="n_bpe_tokens", carry_cols=("token_ids", "doc_ids"),
        )
        windows = T.pack_windows_table(packed, extra_ids_cols=("doc_ids",)).withColumn(
            "wkey", F.col("shard") * 100_000 + F.col("win")
        )
        with tracer.span("sinks.write_shards"):
            manifest = sinks.write_training_shards(
                windows, shards_path, key_col="wkey", num_shards=NUM_SHARDS
            )
        with tracer.span("sinks.verify_read"):
            back = (
                sinks.read_training_shards(spark, shards_path)
                .select("doc_ids", "fill", F.size("token_ids").alias("n_ids"))
                .collect()
            )
        kept = {r["doc_id"] for r in spark.read.parquet(curated_path).select("doc_id").collect()}
        return self._check_export(inputs["corpus"], kept, back, merges, manifest, shards_path)

    def _check_export(self, corpus, kept, back, merges, manifest, shards_path) -> Outcome:
        placed = Counter(d for r in back for d in r["doc_ids"])
        exact_survivors = sum(
            1 for a, b in corpus.exact_pairs if a in kept and b in kept
        )
        misplaced = sum(1 for d in kept if placed[d] != 1)
        tokens = sum(r["fill"] for r in back)
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(shards_path)
            for f in fs
            if f.endswith(".parquet")
        ]
        near_dropped = sum(1 for _, b in corpus.near_pairs if b not in kept)
        return Outcome(
            rows=0,
            items=len(kept) + len(corpus.exact_pairs),
            failed=misplaced + exact_survivors,
            checks={
                "window_fill_le_context": all(r["fill"] <= CONTEXT_TOKENS for r in back),
                "fill_equals_payload": all(r["fill"] == r["n_ids"] for r in back),
                "windows_hold_only_kept_docs": set(placed) <= kept,
            },
            counts={
                "curation.docs_in": len(corpus.doc_ids),
                "curation.docs_kept": len(kept),
                "curation.exact_dropped": sum(
                    1 for _, b in corpus.exact_pairs if b not in kept
                ),
                "curation.near_recall": near_dropped / max(1, len(corpus.near_pairs)),
                "text.merges": len(merges),
                "text.tokens": tokens,
                "text.pack_windows": len(back),
                "text.pack_fill": tokens / (CONTEXT_TOKENS * max(1, len(back))),
                "sinks.shard_bytes": sum(os.path.getsize(p) for p in files),
                "sinks.files": len(files),
            },
            fingerprint=json.dumps(manifest, sort_keys=True),
        )

    def _stream_deliver(self, spark, inputs, out_dir, tracer, out: Outcome) -> None:
        from mriya_spark import sinks, streaming
        from mriya_spark.progress import ProgressLog

        src = inputs["stream"]
        target = os.path.join(out_dir, "delivered")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
            .parquet(src.src_dir)
        )
        plog = ProgressLog.attach(spark)
        try:
            with tracer.span("streaming.drain"):
                streaming.stream_shard_delivery(stream, target, num_shards=NUM_SHARDS)
            _wait_for_termination(plog)
        finally:
            plog.detach(spark)
        with tracer.span("sinks.delivery_read"):
            delivered = [
                r[0]
                for r in sinks.read_training_shards(spark, target, start=(0, 0))
                .select("doc_id")
                .collect()
            ]
        # every distinct key must arrive exactly once; a key re-sent
        # inside one trigger is delivered twice by the current sink
        got = Counter(delivered)
        keys = set(range(src.distinct_keys))
        out.items += len(keys)
        out.failed += sum(1 for k in keys if got[k] != 1)
        out.checks["delivered_only_input_keys"] = set(got) <= keys
        trig = [b["durationMs"]["triggerExecution"] for b in plog.progress]
        add = [b["durationMs"].get("addBatch", 0) for b in plog.progress]
        # numInputRows counts every scan of a micro-batch's source rows,
        # so it exceeds the file rows when the batch body reads it twice
        n_in = sum(int(b.get("numInputRows") or 0) for b in plog.progress)
        out.batch_ms = [float(t) for t in trig]
        out.counts.update(
            {
                "streaming.batches": len(trig),
                "streaming.trigger_ms_p50": statistics.median(trig),
                "streaming.add_batch_ms_p50": statistics.median(add),
                "streaming.overhead_ms_p50": statistics.median(
                    t - a for t, a in zip(trig, add)
                ),
                "streaming.input_rows": n_in,
                "streaming.delivered_rows": len(delivered),
                "streaming.replay_dropped_rows": src.rows - len(delivered),
            }
        )


def _wait_for_termination(plog, timeout_s: float = 30.0) -> None:
    """Listener events reach Python asynchronously; the termination
    event comes after every progress event of the query."""
    deadline = time.time() + timeout_s
    while not plog.terminated:
        if time.time() > deadline:
            raise TimeoutError("streaming query termination never reported")
        time.sleep(0.02)


WORKLOADS = {w.name: w for w in (Migrate(), CurateDeliver())}
