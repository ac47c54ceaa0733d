"""``curate``: the registry's curation calls over a seeded corpus, each
written to a noop sink.  The Arrow kernels, pinned frames and LSH joins do
the work here; parse, enrich and route do none."""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import corpus
from harness import fingerprint, noop

# (registry entry, layer it times).  curation_incremental runs in the
# traced run only: its ~40 Spark jobs cost a third of a pass,
# which the untraced runs' time budget cannot carry.
CALLS = [
    ("minhash_pairs", "functions.dedup"),
    ("paragraph_dedup", "functions.textstats"),
    ("curation_e2e", "functions.curation"),
    ("embedding_decontam", "functions.similarity"),
    ("bigram_perplexity", "functions.vocab"),
]
TRACED_CALLS = CALLS + [("curation_incremental", "functions.curation")]
ORACLE_CHECKED = ["curation_e2e", "curation_incremental", "paragraph_dedup",
                  "bigram_perplexity", "embedding_decontam"]


def curation_incremental(spark, corpus_dir: str, work_dir: str):
    """The registry's ``curation_incremental`` flow — two ordered deltas
    through ``IncrementalCurator`` under a frozen cutoff — with its state
    kept under ``work_dir`` instead of a temporary directory."""
    from pyspark.sql import functions as F

    from logshipper_spark.functions.curation import IncrementalCurator

    docs = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    bench = docs.where(F.pmod("doc_id", F.lit(10)) == 0)
    train = docs.where(F.pmod("doc_id", F.lit(10)) != 0)
    split = docs.agg(F.max("doc_id")).first()[0] // 2
    b1 = train.where(F.col("doc_id") < split)
    b2 = train.where(F.col("doc_id") >= split)
    cur = IncrementalCurator(spark, work_dir, bench, keep_fraction=0.5,
                             fractions={"en": 0.8, "de": 0.6, "fr": 0.6})
    try:
        def _prep(b):
            s = cur.scored(b)
            cur.observe(s)
            return s

        with ThreadPoolExecutor(max_workers=2) as ex:
            sb1, sb2 = list(ex.map(_prep, [b1, b2]))
        frozen = cur.cutoff()
        a1 = cur.admit(sb1, cutoff=frozen)
        a2 = cur.admit(sb2, cutoff=frozen)
        return a1.unionByName(a2).select("doc_id", "lang", "q_score")
    finally:
        cur.close()
        shutil.rmtree(work_dir, ignore_errors=True)


class Curate:
    name = "curate"
    min_iters = 1  # a pass is ~11 s and the run's time budget holds one

    def __init__(self, spark, dirs, seed: int, scale: str, calls=CALLS):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.calls = calls
        self.dir = dirs.path("curate", "corpus")
        self.state = dirs.path("curate", "incremental")
        self.rows = 0
        self.corpus: dict = {}
        self.results: dict[str, list] = {}

    def stage(self) -> dict:
        self.corpus = corpus.generate(self.seed, self.scale)
        corpus.write(self.corpus, self.dir)
        self.rows = len(self.corpus["documents"]["doc_id"])
        docs = fingerprint(os.path.join(self.dir, "documents.parquet", "*.parquet"))
        emb = fingerprint(os.path.join(self.dir, "embeddings.parquet", "*.parquet"))
        return {"rows": docs["rows"], "hash": f"{docs['hash']}:{emb['hash']}",
                "embeddings": emb["rows"]}

    def frame(self, name: str):
        if name == "curation_incremental":
            return curation_incremental(self.spark, self.dir, self.state)
        from logshipper_spark.queries import QUERIES

        return QUERIES[name](self.spark, self.dir)

    def iterate(self) -> None:
        for name, _layer in self.calls:
            noop(self.frame(name))

    def collect(self, name: str) -> None:
        df = self.frame(name)
        self.results[name] = (df.columns, [tuple(r) for r in df.collect()])

    def warm(self) -> None:
        """The untimed first pass collects every result for ``check``."""
        for name, _layer in self.calls:
            self.collect(name)

    def out_bytes(self) -> int:
        return 0

    def check(self) -> dict[str, bool]:
        """The collected results against the registry's DuckDB oracles
        (hash rule of tools/oracle_check.py); minhash pairs must all have
        exact 3-gram Jaccard >= 0.5."""
        import duckdb

        from logshipper_spark.queries import ORACLES
        from tools.oracle_check import value_hash

        verdicts = {}
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                glob = os.path.join(self.dir, f"{t}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
            for name in (n for n in ORACLE_CHECKED if n in self.results):
                cols, rows = self.results[name]
                res = con.execute(ORACLES[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                verdicts[f"curate.{name}"] = (
                    len(rows) == len(orows) and sorted(cols) == sorted(ocols)
                    and value_hash(rows, cols) == value_hash(orows, ocols)
                )
        finally:
            con.close()
        verdicts["curate.minhash_pairs_precision"] = self.pair_stats()["precision"] == 1.0
        return verdicts

    def pair_stats(self) -> dict:
        cols, rows = self.results["minhash_pairs"]
        ia, ib, ij = cols.index("id_a"), cols.index("id_b"), cols.index("jaccard")
        text = self.corpus["text_of"]
        good = 0
        for r in rows:
            exact = corpus.jaccard3(text[r[ia]], text[r[ib]])
            # the reported value is exact rounded to 6 places; Spark rounds
            # half up where Python's round() goes to even (0.5078125)
            good += exact >= 0.5 and abs(exact - r[ij]) <= 5e-7 + 1e-12
        found = {(r[ia], r[ib]) for r in rows}
        truth = [(a, b) for a, b, j in corpus.planted_truth(self.corpus) if j >= 0.5]
        recall = sum(p in found for p in truth) / len(truth) if truth else 1.0
        return {"pairs": len(rows), "precision": good / len(rows) if rows else 1.0,
                "planted_recall": recall}

    # ------------------------------------------------------------ traced --
    def traced(self, tracer) -> dict:
        """One traced pass, which also collects the results ``check``
        reads; returns per-layer metrics.  A span per registry call, plus
        the minhash signature and candidate stages as noop probes of their
        own."""
        from logshipper_spark.functions import dedup

        docs = self.spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        with tracer.span("minhash_signatures", "functions.dedup") as s_sig:
            noop(dedup.minhash_signatures_pandas(docs))
        with tracer.span("minhash_candidates", "functions.dedup") as s_cand:
            noop(dedup.minhash_candidates(docs))
        walls = {}
        for name, layer in self.calls:
            with tracer.span(name, layer) as s:
                self.collect(name)
            walls[name] = s
        candidates = dedup.minhash_candidates(docs).count()
        stats = self.pair_stats()
        s_cand.counts["candidates"] = candidates
        walls["minhash_pairs"].counts["pairs"] = stats["pairs"]
        metrics = {
            "functions.dedup.minhash_signatures_s": s_sig.wall,
            "functions.dedup.minhash_candidates_s": s_cand.wall,
            "functions.dedup.minhash_pairs_s": walls["minhash_pairs"].wall,
            "functions.dedup.candidates": candidates,
            "functions.dedup.pairs": stats["pairs"],
            "functions.dedup.pair_yield": stats["pairs"] / candidates if candidates else 0.0,
            "functions.dedup.planted_recall": stats["planted_recall"],
            "functions.textstats.paragraph_dedup_s": walls["paragraph_dedup"].wall,
            "functions.curation.curation_e2e_s": walls["curation_e2e"].wall,
            "functions.curation.incremental_s": walls["curation_incremental"].wall,
            "functions.curation.incremental_jobs": walls["curation_incremental"].counts["jobs"],
            "functions.similarity.embedding_decontam_s": walls["embedding_decontam"].wall,
            "functions.vocab.bigram_perplexity_s": walls["bigram_perplexity"].wall,
        }
        return metrics
