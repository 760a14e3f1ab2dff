"""The benchmark's workloads: seeded inputs, timed operations, checks, digests.

Each workload is a class with ``setup`` (timed into ``setup_s``), ``round``
(one closed-loop iteration of timed operations, repeated by ``run.py`` until
``--seconds`` have passed and ``min_rounds`` have run, at most
``max_rounds``), ``traced_passes`` (isolated layer passes run only with
tracing on, after the loop), ``check`` (correctness, outside every timed
region) and ``metrics``.

Every timed call into the package is a public function, inside a span named
``<module>.<operation>`` (see README.md for the span list).
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import random
import statistics
from collections import defaultdict

from pyspark.sql import functions as F

from llm_rankers_spark import corpus, fsio
from llm_rankers_spark.functions import codec
from llm_rankers_spark.functions.tokenize import term_counts_col, tokenize, truncate_col, truncate_tokens
from llm_rankers_spark.functions.xxh64 import xxhash64_str
from llm_rankers_spark.operators import bm25, dedup, rerank, runs
from llm_rankers_spark.operators.index_build import build_index, load_index, verify_index
from llm_rankers_spark.streaming import index_stream

# Sizes. Spark's fixed cost per job dominates at these sizes: a session
# start with its warm-up is 20-30 s and most operations 6-12 s on a 4-core
# box, whatever the row count. A run must stay near one minute so that
# 22 runs of each workload (and 4 more) take under an hour.
INGEST_BATCH_DOCS = 1000
SEGMENTS = 2  # halves of the micro-batch appended in the traced pass; compaction needs two
QUERY_CORPUS_DOCS = 1500
QUERY_BATCH = 64
HITS = 100
RERANK_K = 10
PASSAGE_TOKENS = 128
NUM_SHARDS = 8
MINHASH_HASHES = 32
MINHASH_BANDS = 16
MINHASH_SHINGLE_K = 5  # minhash_signatures' default
MINHASH_CHECK_DOCS = 32  # docs whose signature is recomputed on the driver
SCORE_TOL = 1e-9


def generate_docs(spark, n_docs: int, seed: int, path: str, cols: tuple[str, ...]) -> int:
    """Write ``corpus.with_docid(corpus.generate_corpus(spark, n_docs, seed))``
    as one parquet file under ``path``; returns the content bytes."""
    docs = corpus.with_docid(corpus.generate_corpus(spark, n_docs, seed)).select(*cols)
    docs.coalesce(1).write.parquet(path)
    return spark.read.parquet(path).agg(F.sum(F.octet_length("content"))).first()[0]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def digest(lines) -> str:
    """Order-independent digest of an iterable of text lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def postings_digest(index) -> str:
    """Digest of the decoded postings ``(term, docid, tf)``, decoded on the
    driver with the codec, independently of the package's Spark decode."""
    docid = {r["ord"]: r["docid"] for r in index.doc_map.select("ord", "docid").collect()}
    lines = []
    for r in index.postings.select("term", "n", "docs_blob", "tfs_blob", "dls_blob").collect():
        ords, tfs, _dls = codec.unpack_all(r.asDict())
        lines += [f"{r['term']}\t{docid[o]}\t{t}" for o, t in zip(ords.tolist(), tfs.tolist())]
    return digest(lines)


def topk_lines(rows) -> list[str]:
    return [f"{r['qid']}\t{r['rank']}\t{r['docid']}\t{r['score']:.9f}" for r in rows]


def ranked(rows) -> dict[str, list[tuple[str, float]]]:
    """qid → [(docid, score)] in rank order."""
    by_qid = defaultdict(list)
    for r in rows:
        by_qid[r["qid"]].append((r["rank"], r["docid"], r["score"]))
    return {q: [(d, s) for _r, d, s in sorted(v)] for q, v in by_qid.items()}


def ranking_mismatches(got: dict, want: dict, tol: float = SCORE_TOL) -> list[str]:
    """qids whose ranking differs in docid order or by more than ``tol`` in score."""
    def same(g: list, w: list) -> bool:
        return len(g) == len(w) and all(
            gd == wd and abs(gs - ws) <= tol for (gd, gs), (wd, ws) in zip(g, w)
        )

    return sorted(q for q in set(got) | set(want) if not same(got.get(q, []), want.get(q, [])))


def manifest_counters(index_path: str) -> dict[str, float]:
    """Build phase seconds from the index manifest, and on-disk bytes."""
    phases = fsio.read_json(os.path.join(index_path, "_manifest.json")).get(
        "build_metrics", {}
    ).get("phase_seconds", {})
    out = {f"index_build.{p}_s": float(phases.get(p, 0.0))
           for p in ("slim_ordinals", "doc_map_write_stats", "pack_write")}
    for part in ("postings", "doc_map"):
        out[f"index_build.{part}_bytes"] = float(dir_bytes(os.path.join(index_path, part)))
    return out


def minhash_local(text: str, a: list[int], b: list[int]) -> list[int]:
    """A MinHash signature computed on the driver the way
    ``dedup.minhash_signatures`` defines it: simple-mode tokens, distinct
    k-token shingles, base hash ``pmod(xxhash64(shingle), p)``, then
    ``min((a_i*h + b_i) mod p)`` per permutation."""
    p = dedup._MERSENNE
    toks = tokenize(text, "simple")
    k = MINHASH_SHINGLE_K
    shingles = {" ".join(toks)} if len(toks) < k else {
        " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
    }
    hs = [xxhash64_str(s) % p for s in shingles]
    return [min((h * ai + bi) % p for h in hs) for ai, bi in zip(a, b)]


def lsh_pairs_local(sigs: dict[str, tuple]) -> set[tuple[str, str]]:
    """The candidate pairs ``dedup.minhash_lsh_candidates`` defines, from
    exact band equality instead of band hashes: docs with identical
    signatures pair with their smallest id only; one representative per
    signature pairs with every other representative sharing a band."""
    groups: dict[tuple, list[str]] = defaultdict(list)
    for doc_id, sig in sigs.items():
        groups[tuple(sig)].append(doc_id)
    pairs = set()
    reps = {}
    for sig, ids in groups.items():
        rep = min(ids)
        reps[rep] = sig
        pairs |= {(rep, i) for i in ids if i != rep}
    rows = MINHASH_HASHES // MINHASH_BANDS
    for band in range(MINHASH_BANDS):
        buckets: dict[tuple, list[str]] = defaultdict(list)
        for rep, sig in reps.items():
            buckets[sig[band * rows:(band + 1) * rows]].append(rep)
        for ids in buckets.values():
            ids.sort()
            pairs |= {(x, y) for i, x in enumerate(ids) for y in ids[i + 1:]}
    return pairs


class Ingest:
    """Write side: near-duplicate detection, then a fresh index build.

    Setup generates one micro-batch of 1000 code docs. The one round runs
    two timed operations over it: MinHash signatures (32 hashes) and LSH
    candidate pairs (16 bands), then ``build_index(tokenizer_mode="simple",
    num_shards=8)``.

    With tracing on, an isolated pass then takes the micro-batch through the
    segment path: its two halves are appended as two segments by
    ``index_stream.start_index_stream`` + ``processAllAvailable``, 64
    queries run through ``search_segments(k=100)``, and
    ``compact_segments`` folds the segments into one."""

    name = "ingest"
    min_rounds = max_rounds = 1

    def __init__(self, run) -> None:
        self.run = run
        self.batch_path = os.path.join(run.work, "batch")
        self.sigs_path = os.path.join(run.work, "signatures")
        self.idx_path = os.path.join(run.work, "index")
        self.inbox = os.path.join(run.work, "inbox")
        self.root = os.path.join(run.work, "segments")
        self.segments_after: dict[int, list[str]] = {}

    def setup(self) -> None:
        spark, seed = self.run.spark, self.run.seed
        with self.run.tracer.span("corpus.generate_corpus"):
            self.content_bytes = generate_docs(
                spark, INGEST_BATCH_DOCS, seed, self.batch_path, ("docid", "content")
            )
        self.batch = spark.read.parquet(self.batch_path)

    def round(self, r: int) -> None:
        spark = self.run.spark
        with self.run.op("dedup") as op:
            with self.run.tracer.span("dedup.minhash"):
                dedup.minhash_signatures(self.batch, num_hashes=MINHASH_HASHES).write.parquet(self.sigs_path)
            with self.run.tracer.span("dedup.candidate_pairs"):
                self.pairs = [
                    (p["id_a"], p["id_b"])
                    for p in dedup.minhash_lsh_candidates(
                        spark.read.parquet(self.sigs_path), num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS
                    ).collect()
                ]
        t0 = op["t0"]
        with self.run.op("build") as op:
            with self.run.tracer.span("index_build.build_index"):
                build_index(self.batch, self.idx_path, tokenizer_mode="simple", num_shards=NUM_SHARDS)
        self.build_s = op["t1"] - op["t0"]
        self.round_s = op["t1"] - t0

    def traced_passes(self) -> None:
        spark, run = self.run.spark, self.run
        with run.tracer.span("tokenize.term_counts"):
            self.batch.select(term_counts_col("content", mode="simple")).write.format("noop").mode(
                "overwrite"
            ).save()
        os.makedirs(self.inbox)
        for r in range(SEGMENTS):
            stage = os.path.join(run.work, f"stage_{r}")
            self.batch.filter(F.pmod(F.xxhash64("docid"), F.lit(SEGMENTS)) == r).coalesce(1).write.parquet(stage)
            (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
            os.rename(part, os.path.join(self.inbox, f"half_{r}.parquet"))  # the micro-batch lands
            with run.op(f"append.{r}"), run.tracer.span("index_stream.append"):
                q = index_stream.start_index_stream(spark, self.inbox, self.root, tokenizer_mode="simple")
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            self.segments_after[r] = index_stream.list_segments(self.root)
        queries = corpus.generate_queries(spark, corpus.VOCAB, QUERY_BATCH, seed=run.seed)
        with run.op("search_segments"), run.tracer.span("index_stream.search_segments"):
            self.hits = index_stream.search_segments(spark, self.root, queries, k=HITS).collect()
        with run.op("compact"), run.tracer.span("index_stream.compact"):
            index_stream.compact_segments(spark, self.root)
        self.queries = queries

    def _check_segments(self) -> None:
        spark, run = self.run.spark, self.run
        for r, segs in self.segments_after.items():
            want = [f"segment_{e:05d}" for e in range(r + 1)]
            run.expect(f"append.{r}", segs == want, f"segments after append {r}: {segs}")
        if not (run.ops["search_segments"]["ok"] and run.ops["compact"]["ok"]):
            return
        segs = index_stream.list_segments(self.root)
        run.expect("compact", segs == ["segment_compacted"], f"segments after compaction: {segs}")
        idx = load_index(spark, os.path.join(self.root, "segment_compacted"))
        run.expect("compact", idx.meta.n_docs == self.n_docs,
                   f"compacted n_docs {idx.meta.n_docs} != {self.n_docs} input rows")
        # one exhaustive search over the compacted segment is both the
        # post-compaction search and the reference for the segment search
        pre = ranked(self.hits)
        post = ranked(bm25.search(idx, self.queries, k=HITS, method="exhaustive").collect())
        bad = ranking_mismatches(pre, post)
        run.expect("search_segments", bool(pre) and not bad,
                   f"search_segments != exhaustive search after compaction for {bad[:3]}")
        run.digests["search_segments"] = digest(topk_lines(self.hits))

    def check(self) -> None:
        spark, run = self.run.spark, self.run
        rows = self.batch.select("docid", "content").collect()
        self.n_docs = len(rows)
        if run.ops["dedup"]["ok"]:
            sigs = {s["id"]: tuple(s["sig"]) for s in spark.read.parquet(self.sigs_path).collect()}
            run.expect("dedup", sorted(sigs) == sorted(d["docid"] for d in rows),
                       "signature ids != input docids")
            a, b = dedup.minhash_params(MINHASH_HASHES)
            sample = random.Random(run.seed).sample(rows, MINHASH_CHECK_DOCS)
            bad = [d["docid"] for d in sample
                   if tuple(minhash_local(d["content"], a, b)) != sigs.get(d["docid"])]
            run.expect("dedup", not bad, f"minhash != driver recomputation for {bad[:3]}")
            got, want = set(self.pairs), lsh_pairs_local(sigs)
            run.expect("dedup", got == want and len(got) == len(self.pairs),
                       f"{len(got ^ want)} candidate pairs differ from exact band equality")
            run.digests["dedup_pairs"] = digest(f"{x}\t{y}" for x, y in self.pairs)
        if run.ops["build"]["ok"]:
            idx = load_index(spark, self.idx_path)
            v = verify_index(idx)
            run.expect("build", v["ok"], f"verify_index {v['mismatches'][:3]}")
            run.expect("build", idx.meta.n_docs == self.n_docs,
                       f"n_docs {idx.meta.n_docs} != {self.n_docs} input rows")
            run.digests["postings"] = postings_digest(idx)
            run.counters.update(manifest_counters(self.idx_path))
            self.index_bytes = dir_bytes(self.idx_path)
        if self.run.trace:
            self._check_segments()

    def metrics(self) -> dict[str, float]:
        return {
            "build_docs_per_s": self.n_docs / self.build_s,
            # the micro-batch through near-duplicate detection, then indexing
            "batch_p50_s": self.round_s,
            "index_bytes_per_input_byte": self.index_bytes / self.content_bytes,
        }


class Query:
    """Read side: rerank-sized BM25 batches, then the rerank loop.

    Setup builds an index over 1500 generated code docs with the CLI
    default ``tokenizer_mode="code"`` and 8 shards. Round b takes batch b of
    64 queries in the FIXTURES §2 mix through ``bm25.search(k=100)`` to
    parquet (the reference's ``--hits 100``), then ``runs.attach_text``, a
    128-token passage clamp and ``rerank.rerank("setwise.heapsort",
    MockComparator, k=10)`` to parquet: the stage shape of
    ``plans/pipeline.py``.

    With tracing on, isolated passes after the loop run ``attach_text``
    alone, the code-mode tokenizer over the corpus, and one bulk batch of
    1088 queries through ``search(k=100)``, past the driver-planned limit
    of 1024, so that it takes the distributed plan."""

    name = "query"
    min_rounds = 2  # a batch's wall varies with how its qids spread over tasks
    max_rounds = 4

    def __init__(self, run) -> None:
        self.run = run
        self.docs_path = os.path.join(run.work, "docs")
        self.idx_path = os.path.join(run.work, "index")
        self.batch_s: list[float] = []

    def _out(self, kind: str, b: int) -> str:
        return os.path.join(self.run.work, f"{kind}_{b}")

    def setup(self) -> None:
        spark, seed = self.run.spark, self.run.seed
        with self.run.tracer.span("corpus.generate_corpus"):
            self.content_bytes = generate_docs(
                spark, QUERY_CORPUS_DOCS, seed, self.docs_path, ("docid", "content", "content_sha256")
            )
            self.docs = spark.read.parquet(self.docs_path)
            self.batches = [
                corpus.generate_queries(spark, corpus.VOCAB, QUERY_BATCH, seed=seed * 1000 + b)
                .withColumn("qid", F.concat(F.lit(f"b{b}-"), "qid"))
                for b in range(self.max_rounds)
            ]
        with self.run.tracer.span("index_build.build_index") as s:
            self.idx = build_index(self.docs, self.idx_path, tokenizer_mode="code", num_shards=NUM_SHARDS)
        self.build_s = s["t1"] - s["t0"]

    def round(self, b: int) -> None:
        qs = self.batches[b]
        with self.run.op(b) as op:
            with self.run.tracer.span("bm25.search"):
                plan: dict = {}
                bm25.search(self.idx, qs, k=HITS, plan_out=plan).write.parquet(self._out("first", b))
                self.run.plans.append(plan.get("plan"))
            with self.run.tracer.span("rerank.rerank"):
                candidates = (
                    runs.attach_text(self.run.spark.read.parquet(self._out("first", b)), self.docs)
                    .join(qs, "qid")
                    .select("qid", "query", "docid", "rank", "text")
                    .withColumn("text", truncate_col("text", PASSAGE_TOKENS, "code"))
                )
                rerank.rerank(
                    candidates, "setwise.heapsort", rerank.MockComparator(), k=RERANK_K
                ).write.parquet(self._out("rerank", b))
        if op["ok"]:
            self.batch_s.append(op["t1"] - op["t0"])

    def traced_passes(self) -> None:
        spark = self.run.spark
        with self.run.tracer.span("runs.attach_text"):
            runs.attach_text(spark.read.parquet(self._out("first", 0)), self.docs).write.format(
                "noop"
            ).mode("overwrite").save()
        with self.run.tracer.span("tokenize.term_counts"):
            self.docs.select(term_counts_col("content", mode="code")).write.format("noop").mode(
                "overwrite"
            ).save()
        # one batch past the driver-planned limit, so search() takes its
        # distributed plan; it holds batch 0, whose answer is already known
        bulk = self.batches[0].unionByName(
            corpus.generate_queries(spark, corpus.VOCAB, bm25.DRIVER_QUERY_PLAN_MAX, seed=self.run.seed * 1000 + 999)
            .withColumn("qid", F.concat(F.lit("bulk-"), "qid"))
        )
        with self.run.op("bulk"), self.run.tracer.span("bm25.bulk"):
            plan: dict = {}
            bm25.search(self.idx, bulk, k=HITS, plan_out=plan).write.parquet(self._out("bulk", 0))
            self.run.plans.append(plan.get("plan"))

    def check(self) -> None:
        spark, run = self.run.spark, self.run
        done = [b for b in range(len(self.batches)) if b in run.ops and run.ops[b]["ok"]]

        def by_batch(rows) -> dict:
            out = defaultdict(list)
            for r in rows:
                out[int(r["qid"][1:].split("-", 1)[0])].append(r)
            return out

        queries = functools.reduce(lambda x, y: x.unionByName(y), [self.batches[b] for b in done])
        want = ranked(bm25.search(self.idx, queries, k=HITS, method="exhaustive").collect())
        firsts = by_batch(spark.read.parquet(*[self._out("first", b) for b in done]).collect())
        reranked = by_batch(spark.read.parquet(*[self._out("rerank", b) for b in done]).collect())
        # rerank_local replayed on the driver over candidates rebuilt there:
        # first-stage rows in rank order, their text clamped to 128 tokens
        needed = {r["docid"] for rows in firsts.values() for r in rows}
        clamped = {
            d["docid"]: truncate_tokens(d["content"], PASSAGE_TOKENS, "code")
            for d in self.docs.select("docid", "content").collect() if d["docid"] in needed
        }
        text = {q["qid"]: q["query"] for q in queries.collect()}
        replay = {
            q: rerank.rerank_local(
                "setwise.heapsort", [(d, clamped[d]) for d, _s in hits], text[q],
                rerank.MockComparator(), k=RERANK_K,
            )
            for b in done for q, hits in ranked(firsts[b]).items()
        }
        for b in done:
            got = ranked(firsts[b])
            bad = ranking_mismatches(got, {q: v for q, v in want.items() if q.startswith(f"b{b}-")})
            run.expect(b, not bad, f"batch {b}: search != exhaustive for {bad[:3]}")
            rr = ranked(reranked[b])
            mine = {q: v for q, v in replay.items() if q.startswith(f"b{b}-")}
            bad = [q for q in set(rr) | set(mine) if rr.get(q) != mine.get(q)]
            run.expect(b, not bad, f"batch {b}: rerank != rerank_local replay for {bad[:3]}")
            run.digests[f"search.{b}"] = digest(topk_lines(firsts[b]))
            run.digests[f"rerank.{b}"] = digest(topk_lines(reranked[b]))
        if run.trace and run.ops["bulk"]["ok"] and 0 in firsts:
            bulk = spark.read.parquet(self._out("bulk", 0)).filter(F.col("qid").startswith("b0-")).collect()
            bad = ranking_mismatches(ranked(bulk), ranked(firsts[0]))
            run.expect("bulk", not bad, f"bulk search != batch 0 search for {bad[:3]}")
        run.counters.update(manifest_counters(self.idx_path))
        self.index_bytes = dir_bytes(self.idx_path)

    def metrics(self) -> dict[str, float]:
        return {
            "batch_p50_s": statistics.median(self.batch_s),
            "build_docs_per_s": self.idx.meta.n_docs / self.build_s,
            "index_bytes_per_input_byte": self.index_bytes / self.content_bytes,
        }


WORKLOADS = {w.name: w for w in (Ingest, Query)}
