"""Workload ``corpus_ingest``: the LLM-data ingest loop.

Closed loop, one client, two operation types. ``build`` runs once: the
standing corpus, its banded-LSH index, its content-digest bloom index and
the tokenizer vocabulary. ``batch`` runs until time is up: one day-batch
goes through quality scoring, bloom routing, the exact digest anti-join,
LSH candidates against the standing index, exact-Jaccard verification,
chunking, tokenizing, packing and the training-shard write; the accepted
docs are then appended to the corpus and streamed into the LSH index.
The seed picks the texts and which standing
docs come back as exact and near copies; the check compares every
batch's accepted set, and what survived each dedup stage, with that
ledger alone.
"""

from __future__ import annotations

import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import (TAIL_Q, digest_files, layer_rollup, median, tail, tree_bytes,
                              trigger_metrics)

N_STANDING = 4000      # sf0.1's 5000 documents, a fifth held back for batches
BATCH_DOCS = 100
MAX_BATCHES = 50
QUALITY_MIN = 0.8
CHUNK, OVERLAP, BUDGET, SHARDS = 64, 8, 256, 4


class Paths:
    def __init__(self, root):
        self.root = root
        self.corpus = f"{root}/corpus"
        self.lsh = f"{root}/lsh_index"
        self.bloom = f"{root}/bloom_index"

    def batch_in(self, i):
        return f"{self.root}/input/batch{i:04d}.parquet"

    def corpus_part(self, i):
        return f"{self.corpus}/batch={i:04d}"

    def shards(self, i):
        return f"{self.root}/shards/op{i:04d}"


def build(r, paths: Paths, standing_path: str) -> list[str]:
    """The standing corpus and its indexes; returns the tokenizer vocab."""
    from pyspark.sql import functions as F

    from goetl_spark.operators.bloom import bloom_build_keys, bloom_index_write, bloom_params
    from goetl_spark.operators.dedup import lsh_index_write
    from goetl_spark.operators.tokenizer import vocab_from_corpus
    from goetl_spark.sinks import write_parquet
    from goetl_spark.sources import read_parquet

    t = r.tracer
    docs = t.call("sources", read_parquet, r.spark, standing_path)
    t.call("sinks", write_parquet, docs, paths.corpus_part(0))
    corpus = t.call("sources", read_parquet, r.spark, paths.corpus)
    t.call("streaming.index", lsh_index_write, corpus, paths.lsh)
    bits, hashes = bloom_params(N_STANDING + MAX_BATCHES * BATCH_DOCS, fpp=0.01)
    words = t.call("operators.bloom", bloom_build_keys,
                   corpus.select(F.md5("text").alias("digest")), ["digest"], bits, hashes)
    t.call("operators.bloom", bloom_index_write, words, paths.bloom, ["digest"], hashes)
    return t.call("operators.tokenizer", vocab_from_corpus, corpus, max_word_pieces=500)


def batch(r, paths: Paths, i: int, vocab: list[str]) -> dict:
    """One day-batch, input file to committed appends. Returns the
    candidate pairs and routing counts the metrics need, and the
    checkpointed frames the checks read after the timed window."""
    from pyspark.sql import functions as F

    from goetl_spark.functions import filters as flt
    from goetl_spark.functions import transforms as tf
    from goetl_spark.operators import groupby as gb
    from goetl_spark.operators.bloom import bloom_index_read, bloom_might_contain
    from goetl_spark.operators.dedup import (dedup_against, lsh_index_candidates,
                                             ngram_jaccard_pairs)
    from goetl_spark.operators.sampling import chunk_documents, pack_sequences
    from goetl_spark.operators.join import anti_join
    from goetl_spark.operators.text import quality_score
    from goetl_spark.operators.tokenizer import wordpiece_tokenize
    from goetl_spark.quality import DataQualityValidator
    from goetl_spark.sinks import write_parquet
    from goetl_spark.sinks.files import write_training_shards
    from goetl_spark.sources import read_parquet
    from goetl_spark.streaming.indexes import stream_index_append
    from goetl_spark.streaming.sources import replay_stream

    t, spark = r.tracer, r.spark
    docs = t.call("sources", read_parquet, spark, paths.batch_in(i))
    corpus = t.call("sources", read_parquet, spark, paths.corpus)
    gate = DataQualityValidator(min_records=1, required_fields=["doc_id", "text"],
                                max_null_rate={"text": 0.0})
    report = t.call("quality", gate.validate, docs)
    if not report.passed:
        raise ValueError(f"batch {i} failed the ingest gate: {report.violations}")

    # quality score filter, then bloom routing: a bloom miss is
    # definitely new and skips the exact digest join
    scored = t.call("functions", tf.add_field, docs, "q",
                    t.call("operators.text", quality_score, "text"))
    kept = t.call("functions", tf.remove_fields,
                  scored.filter(t.call("functions", flt.between, "q", QUALITY_MIN, 1.0)), "q")
    with t.span("operators.bloom"):
        words, _, hashes = bloom_index_read(paths.bloom, ["digest"])
        maybe = bloom_might_contain(words, len(words) * 64, hashes, F.md5("text"))
        routed = kept.withColumn("__maybe", maybe).localCheckpoint(eager=True)
    counts = dict(t.call("operators.groupby", gb.group_by, routed, ["__maybe"],
                         gb.count("n")).collect())
    fresh = routed.filter(~F.col("__maybe")).drop("__maybe")
    seen = routed.filter(F.col("__maybe")).drop("__maybe")
    with t.span("operators.dedup"):
        no_exact = fresh.unionByName(dedup_against(seen, corpus)).localCheckpoint(eager=True)
        cand = lsh_index_candidates(no_exact, paths.lsh, include_new_pairs=False)
        pairs = [(q, m) for q, m in cand.select("query_id", "match_id").collect()]
        accepted, confirmed = no_exact, 0
        if pairs:
            qs, ms = sorted({q for q, _ in pairs}), sorted({m for _, m in pairs})
            universe = (no_exact.filter(F.col("doc_id").isin(qs))
                        .unionByName(corpus.select("doc_id", "text")
                                     .filter(F.col("doc_id").isin(ms))))
            verified = ngram_jaccard_pairs(universe, threshold=0.5)
            drop = verified.select(F.greatest("id_a", "id_b").alias("doc_id")).distinct() \
                .localCheckpoint(eager=True)
            confirmed = len(drop.filter(F.col("doc_id").isin(qs)).collect())
            accepted = t.call("operators.join", anti_join, no_exact, drop, ["doc_id"])

    # the accepted batch lands in the corpus; everything downstream reads it back
    t.call("sinks", write_parquet, accepted, paths.corpus_part(i + 1))
    acc = t.call("sources", read_parquet, spark, paths.corpus_part(i + 1))

    chunks = t.call("operators.sampling", chunk_documents, acc, CHUNK, OVERLAP)
    chunks = t.call("functions", tf.add_field, chunks, "chunk_key",
                    F.col("doc_id") * 1000 + F.col("chunk_id"))
    toks = t.call("operators.tokenizer", wordpiece_tokenize, chunks, vocab,
                  id_col="chunk_key").select("chunk_key", "n_tokens")
    packed = t.call("operators.sampling", pack_sequences,
                    chunks.drop("n_tokens").join(toks, "chunk_key"), "n_tokens", BUDGET,
                    order_cols=("doc_id", "chunk_id"))
    t.call("sinks", write_training_shards, packed, paths.shards(i), SHARDS, "chunk_key")

    with t.span("streaming.index"):
        stream = replay_stream(acc, num_chunks=1, dir=f"{paths.root}/replay/op{i:04d}")
        q = t.stream(stream_index_append(stream, paths.lsh, f"{paths.root}/ckpt/op{i:04d}",
                                         "lsh"))
        q.awaitTermination()
        q.stop()
    progress = [p for p in q.recentProgress if p.numInputRows > 0]

    return {"pairs": pairs, "confirmed": confirmed, "skipped": counts.get(False, 0),
            "progress": progress, "routed": routed, "no_exact": no_exact}


def check_batch(c: gen.Corpus, paths: Paths, i: int, out: dict) -> tuple[dict, str | None]:
    """One batch against the ledger: the exact stage drops every exact
    copy and nothing else, every near copy is an LSH candidate of its
    source, the accepted set is exactly the fresh docs that pass the
    quality filter, and the shards hold the expected chunks within the
    token budget. Returns exact counts and an error or None."""
    batch = pq.read_table(paths.batch_in(i))
    kind = {d: c.ledger[d] for d in batch["doc_id"].to_pylist()}
    passed = {d for d, k in kind.items() if k[2]}
    maybe = dict(out["routed"].select("doc_id", "__maybe").collect())
    no_exact = {r.doc_id for r in out["no_exact"].select("doc_id").collect()}
    counts = {"rows_written": 0, "rows_expected": 0}
    if set(maybe) != passed:
        d = min(set(maybe) ^ passed)
        return counts, f"quality filter {'kept' if d in maybe else 'dropped'} {kind[d][0]} doc {d}"
    for d in sorted(passed):
        if kind[d][0] == "exact" and d in no_exact:
            how = "the bloom routed it past the digest join" if not maybe[d] else "digest join"
            return counts, f"exact copy {d} of {kind[d][1]} survived dedup ({how})"
        if kind[d][0] != "exact" and d not in no_exact:
            return counts, f"{kind[d][0]} doc {d} dropped by the exact dedup"
    pairs = set(out["pairs"])
    missed = [d for d in sorted(passed)
              if kind[d][0] == "near" and (d, kind[d][1]) not in pairs]
    if missed:
        return counts, f"near copy {missed[0]} of {kind[missed[0]][1]} is no LSH candidate"
    expected = {d: t for d, t in zip(batch["doc_id"].to_pylist(), batch["text"].to_pylist())
                if d in passed and kind[d][0] == "fresh"}
    acc_ids = set(pq.read_table(paths.corpus_part(i + 1), columns=["doc_id"])
                  ["doc_id"].to_pylist())
    if acc_ids != set(expected):
        d = min(acc_ids ^ set(expected))
        return counts, f"{kind[d][0]} doc {d} {'accepted' if d in acc_ids else 'dropped'}"
    n_chunks = 0
    for text in expected.values():
        n = len(text.split())
        n_chunks += len(range(0, max(n - 1, 0) + 1, CHUNK - OVERLAP))
    shards = pq.read_table(paths.shards(i), columns=["pack_id", "n_tokens"])
    counts = {"rows_written": shards.num_rows + len(acc_ids),
              "rows_expected": n_chunks + len(expected)}
    if shards.num_rows != n_chunks:
        return counts, f"{shards.num_rows} shard rows, expected {n_chunks} chunks"
    packs: dict[int, list[int]] = {}
    for p, n in zip(shards["pack_id"].to_pylist(), shards["n_tokens"].to_pylist()):
        packs.setdefault(p, []).append(n)
    over = [p for p, ns in packs.items() if sum(ns) - max(ns) >= BUDGET]
    if over:
        return counts, f"pack {over[0]} exceeds the {BUDGET}-token budget"
    return counts, None


def _written(paths: Paths, i: int, lsh_before: int) -> tuple[int, int, int]:
    """What a batch wrote, from the filesystem: (sink bytes, sink files)
    for its corpus part and shards, and index bytes for the LSH growth
    plus the stream's replay files and checkpoint."""
    sink = [tree_bytes(p) for p in (paths.corpus_part(i + 1), paths.shards(i))]
    index = (tree_bytes(paths.lsh)[0] - lsh_before
             + tree_bytes(f"{paths.root}/replay/op{i:04d}")[0]
             + tree_bytes(f"{paths.root}/ckpt/op{i:04d}")[0])
    return sum(b for b, _ in sink), sum(f for _, f in sink), index


def run(r):
    c = gen.Corpus(r.seed, N_STANDING, BATCH_DOCS)
    paths = Paths(str(r.workdir))
    standing = gen.write_table(c.standing(), f"{paths.root}/input/standing.parquet")

    t0 = time.perf_counter()
    r.tracer.op = "build"
    with r.tracer.span("bench.build"):
        vocab = build(r, paths, standing)
    build_s = time.perf_counter() - t0

    # batch 0 is the cold first operation; the timed window of warm
    # batches starts when it ends and always holds at least one
    lat, outs, written = [], [], []
    t_start = e0 = None
    while t_start is None or len(lat) < 2 or (
            len(lat) < MAX_BATCHES and not r.deadline_passed(t_start, len(lat) - 1)):
        i = len(lat)
        gen.write_table(c.batch(i), paths.batch_in(i))
        r.tracer.op = i
        lsh_before = tree_bytes(paths.lsh)[0]
        scanned = tree_bytes(paths.batch_in(i))[0] + tree_bytes(paths.corpus)[0]
        t0 = time.perf_counter()
        with r.tracer.span("bench.batch"):
            outs.append(batch(r, paths, i, vocab))
        lat.append(time.perf_counter() - t0)
        r.attempted += 1
        written.append(_written(paths, i, lsh_before))
        outs[-1]["scanned"] = scanned + tree_bytes(paths.corpus_part(i + 1))[0]
        if t_start is None:
            t_start, e0 = time.perf_counter(), time.time()
    wall = time.perf_counter() - t_start
    e1 = time.time()
    r.end_window()

    r.record["input_digest"] = digest_files(
        [standing] + [paths.batch_in(i) for i in range(len(lat))])
    totals = {"rows_written": 0, "rows_expected": 0}
    for i, out in enumerate(outs):
        counts, err = check_batch(c, paths, i, out)
        if err:
            r.fail(f"batch {i}: {err}")
        for k, v in counts.items():
            totals[k] += v
    live_text = sum(len(s.encode()) for s in pq.read_table(paths.corpus)["text"].to_pylist())
    stored = sum(tree_bytes(p)[0] for p in (paths.corpus, paths.lsh, paths.bloom))
    warm, outs, written = lat[1:], outs[1:], written[1:]
    n = len(warm)
    in_bytes = sum(tree_bytes(paths.batch_in(i))[0] for i in range(1, n + 1))
    q_tail, beyond = tail(warm)
    r.record.update({"ops": len(lat), "build_s": build_s, "lat": [round(x, 3) for x in lat],
                     "files_written": sum(w[1] for w in written),
                     "op_tail": {"quantile": TAIL_Q, "samples": n, "beyond": beyond},
                     **totals})
    e2e = {
        "first_op_s": (lat[0], "s"),
        "op_p50_s": (median(warm), "s"),
        "op_tail_s": (q_tail, "s"),
        "rows_per_s": (BATCH_DOCS * n / wall, "rows/s"),
        "write_amp": (sum(b + index for b, _, index in written) / in_bytes, "ratio"),
    }
    layers = {}
    if r.trace:
        layers = layer_rollup(r.spark, r.tracer, e0, e1, n)
        pairs = sum(len(o["pairs"]) for o in outs)
        progress = [p for o in outs for p in o["progress"]]
        layers.update(trigger_metrics(progress, layers["streaming.jobs"] * n))
        layers.update({
            "streaming.triggers": len(progress) / n,
            "sources.scan_bytes": sum(o["scanned"] for o in outs) / n,
            "dedup.candidate_pairs": pairs / n,
            "dedup.verify_yield": sum(o["confirmed"] for o in outs) / pairs if pairs else 0.0,
            "bloom.skip_frac": sum(o["skipped"] for o in outs) / (BATCH_DOCS * n),
            "index.build_s": build_s,
            "index.append_s": layers["index.build_s"],
            "index.bytes_written": sum(w[2] for w in written) / n,
            "index.space_amp": stored / live_text,
            "sinks.write_s": layers["sinks.job_s"],
            "sinks.bytes_written": sum(w[0] for w in written) / n,
            "sinks.files_written": sum(w[1] for w in written) / n,
            "trace.op_p50_s": median(warm),
        })
    return e2e, layers
