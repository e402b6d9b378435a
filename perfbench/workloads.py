"""The benchmark's workloads: inputs, one timed run, and its checks.

Each workload reads its generated ``documents`` parquet through
``sources.tables.load_table`` and calls the pipeline only through its
public functions.  Calls go through module attributes (``similarity.
similar_pairs``, not a name imported at load time) so that the traced
run's wrappers see them.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

import checks
import gen
from mapreduce_minhash_lsh_spark.operators import bandstore, dedup, lsh, similarity
from mapreduce_minhash_lsh_spark.config import GOLDEN
from mapreduce_minhash_lsh_spark.registry import PIPELINE_CFG
from mapreduce_minhash_lsh_spark.sources import tables
from pyspark.sql import functions as F

# Generator arguments per workload and scale.  "full" is what the
# benchmark measures; "tiny" keeps the same shapes at a size the
# benchmark's own tests can run in seconds.
#
# clustered_dedup's docs are ~420 chars with at most one word edit per
# member, so every planted pair has true Jaccard >= ~0.84 and the LSH
# graph of each cluster is close to a clique: the connected-components
# loop then takes the same two rounds (25 Spark jobs) on every seed tried
# (32 seeds at 1100-1300 docs).  With ~140-char docs an edit costs a pair
# ~0.1 of Jaccard, pairs straddle the banding's ~0.88 knee, and seeds
# needed 2, 3 or 4 rounds (25, 36 or 47 jobs), a per-seed step in wall
# time.  1300 such docs make a 140-160 KB parquet, above the 128 KB gate
# of ``tables.ensure_min_partitions``, so ``load_table`` repartitions it
# as it does real inputs.
SIZES = {
    "unique_long": {
        "full": dict(n_docs=240, mean_words=400, dup_frac=0.1),
        "tiny": dict(n_docs=40, mean_words=100, dup_frac=0.1),
    },
    "clustered_dedup": {
        "full": dict(n_docs=1300, mean_words=70, cluster_frac=0.8,
                     cluster_size=12, max_edits=1),
        "tiny": dict(n_docs=200, mean_words=23, cluster_frac=0.8,
                     cluster_size=8, max_edits=1),
    },
    "store_ingest": {
        "full": dict(n_store=500, n_crawl=100, mean_words=100, copy_frac=0.3),
        "tiny": dict(n_store=200, n_crawl=60, mean_words=60, copy_frac=0.3),
    },
}
GENERATORS = {
    "unique_long": gen.unique_long,
    "clustered_dedup": gen.clustered,
    "store_ingest": gen.store_ingest,
}


# The reference's 5-line demo corpus; under config.GOLDEN its near-dup
# pairs are exactly (0, 2) and (3, 4).
GOLDEN_TEXTS = [
    "I ate an apple.",
    "I went to the Apple.",
    "I ate an orange.",
    "This has nothing in common with the other sentences.",
    "This sentence has a lot in common with the previous sentence.",
]
GOLDEN_PAIRS = {(0, 2), (3, 4)}


def generate(name: str, seed: int, scale: str = "full") -> gen.Corpus:
    if scale == "golden":
        if name != "unique_long":
            raise ValueError("the golden corpus runs as unique_long only")
        sets = [gen.shingle_set(t) for t in GOLDEN_TEXTS]
        planted = [(a, b, gen.jaccard(sets[a], sets[b])) for a, b in sorted(GOLDEN_PAIRS)]
        return gen.Corpus("golden", seed, list(GOLDEN_TEXTS), planted=planted)
    return GENERATORS[name](seed, **SIZES[name][scale])


def drop_persisted(spark) -> None:
    """Unpersist every RDD, including the pipeline's localCheckpoint
    blocks, which ``catalog.clearCache()`` does not reach."""
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)
    spark.catalog.clearCache()


def sink(df, tracer=None) -> None:
    """The final action: every output column is computed and discarded
    executor-side by the ``noop`` data source."""
    ctx = tracer.span("sink", "noop_write") if tracer else contextlib.nullcontext()
    with ctx:
        df.write.format("noop").mode("overwrite").save()


def _pair_rows(df, a: str = "doc_id_a", b: str = "doc_id_b"):
    pdf = df.select(a, b, "jaccard").toPandas()
    return list(zip(pdf[a].astype(int).tolist(), pdf[b].astype(int).tolist(),
                    pdf["jaccard"].astype(float).tolist()))


def _max_bucket(bands) -> int:
    """Largest (band, band_key) bucket of a band relation."""
    row = bands.groupBy("band", "band_key").count().agg(F.max("count").alias("m")).first()
    return row.m or 0


class Workload:
    """Base: ``run`` is the timed part; everything else is untimed."""

    name = ""

    def __init__(self, corpus: gen.Corpus, work: str, cfg=PIPELINE_CFG):
        self.spark = None  # attached once the session is up
        self.cfg = cfg
        self.corpus = corpus
        self.work = work
        self.docs_dir = os.path.join(work, "docs")
        self.oracle = checks.JaccardOracle(corpus)

    @property
    def input_docs(self) -> int:
        return len(self.corpus.texts)

    def write_inputs(self) -> None:
        """The program's input (the ``documents`` parquet) and, beside it,
        the benchmark-side ground-truth manifest."""
        gen.write_documents(self.docs_dir, self.corpus.ids(), self.corpus.texts)
        with open(os.path.join(self.work, "manifest.json"), "w") as f:
            json.dump(self.corpus.manifest(), f)

    def setup(self) -> None:
        """Extra set-up inside ``setup_s`` (none by default)."""

    def reset(self) -> None:
        drop_persisted(self.spark)

    def run(self, tracer=None) -> dict:
        raise NotImplementedError

    def collect(self, h: dict) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def found(self, out: dict) -> set[tuple[int, int]]:
        return {(a, b) for a, b, _ in out["pairs"]}

    def fingerprint(self, out: dict) -> str:
        return checks.fingerprint(*(out[k] for k in sorted(out)))

    def counters(self, h: dict, out: dict, tracer) -> dict[str, float]:
        raise NotImplementedError


class UniqueLong(Workload):
    """Long, mostly unique docs: the signature aggregate dominates."""

    name = "unique_long"

    def run(self, tracer=None) -> dict:
        docs = tables.load_table(self.spark, self.docs_dir, "documents")
        pairs = similarity.similar_pairs(docs, self.cfg)
        sink(pairs, tracer)
        return {"docs": docs, "pairs": pairs}

    def collect(self, h: dict) -> dict:
        return {"pairs": _pair_rows(h["pairs"])}

    def check(self, out: dict) -> list[str]:
        return checks.check_pairs(out["pairs"], self.oracle, self.cfg.threshold)

    def counters(self, h, out, tracer) -> dict[str, float]:
        rel = tracer.returns["signature_set_relation"][0]
        cands = lsh.banded_pairs(rel, self.cfg).count()
        return {
            "tables.input_tasks": h["docs"].rdd.getNumPartitions(),
            "lsh.candidates": cands,
            "lsh.max_bucket": _max_bucket(lsh.compact_band_keys(rel, self.cfg)),
            "similarity.verified_pairs": len(out["pairs"]),
            "similarity.precision": len(out["pairs"]) / cands if cands else 0.0,
        }


class ClusteredDedup(UniqueLong):
    """Short docs in near-dup clusters: candidates, verify and the
    connected-components loop dominate."""

    name = "clustered_dedup"
    reference = None  # the first checked run's pairs

    def run(self, tracer=None) -> dict:
        docs = tables.load_table(self.spark, self.docs_dir, "documents")
        pairs = similarity.similar_pairs(docs, self.cfg)
        groups = dedup.near_dup_groups(pairs, prepared=True)
        sink(groups, tracer)
        return {"docs": docs, "pairs": pairs, "groups": groups}

    def collect(self, h: dict) -> dict:
        pdf = h["groups"].select("doc_id", "group_id").toPandas()
        groups = list(zip(pdf["doc_id"].astype(int).tolist(),
                          pdf["group_id"].astype(int).tolist()))
        return {"pairs": _pair_rows(h["pairs"]), "groups": groups}

    def check(self, out: dict) -> list[str]:
        # The first checked run's pairs are the reference edge list; every
        # run's pairs must equal it (fingerprint) and pass the pair check.
        if self.reference is None:
            self.reference = out["pairs"]
        return checks.check_pairs(
            out["pairs"], self.oracle, self.cfg.threshold
        ) + checks.check_groups(out["groups"], self.reference)

    def counters(self, h, out, tracer) -> dict[str, float]:
        c = super().counters(h, out, tracer)
        c["dedup.groups"] = len({g for _, g in out["groups"]})
        return c


class StoreIngest(Workload):
    """Probe a crawl batch against a persisted band store, then extend
    the store with the crawl docs that matched nothing."""

    name = "store_ingest"

    def __init__(self, corpus, work, cfg=PIPELINE_CFG):
        super().__init__(corpus, work, cfg)
        self.seen_dir = os.path.join(work, "seen")
        self.snapshot = os.path.join(work, "store_snapshot")
        self.store = os.path.join(work, "store")

    @property
    def seen_ids(self) -> list[int]:
        return list(range(len(self.corpus.store_texts)))

    def write_inputs(self) -> None:
        super().write_inputs()
        gen.write_documents(self.seen_dir, self.seen_ids, self.corpus.store_texts)

    def setup(self) -> None:
        shutil.rmtree(self.snapshot, ignore_errors=True)
        seen = tables.load_table(self.spark, self.seen_dir, "documents")
        bandstore.build_band_store(seen, self.cfg, self.snapshot)

    def reset(self) -> None:
        super().reset()
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.snapshot, self.store)
        # copytree keeps the snapshot's mtimes, so every file newer than
        # this was written by the run.
        self.run_started_ns = time.time_ns()

    def run(self, tracer=None) -> dict:
        crawl = tables.load_table(self.spark, self.docs_dir, "documents")
        pairs = bandstore.cross_pairs_against_store(crawl, self.cfg, self.store)
        sink(pairs, tracer)
        survivors = crawl.join(
            pairs.select(F.col("new_id").alias("doc_id")), "doc_id", "left_anti"
        )
        bandstore.build_band_store(survivors, self.cfg, self.store)
        return {"docs": crawl, "pairs": pairs, "survivors": survivors}

    def _store_rows(self, store: str) -> dict[str, dict[int, int]]:
        out = {}
        for table in ("shingle_ids", "signatures", "bands"):
            rows = self.spark.read.parquet(f"{store}/{table}").groupBy("doc_id").count()
            out[table] = {int(r[0]): int(r[1]) for r in rows.collect()}
        return out

    def collect(self, h: dict) -> dict:
        surv = [int(r[0]) for r in h["survivors"].select("doc_id").collect()]
        rows = self._store_rows(self.store)
        return {
            "pairs": _pair_rows(h["pairs"], "new_id", "seen_id"),
            "survivors": surv,
            "store": sorted((t, d, n) for t, m in rows.items() for d, n in m.items()),
            "_store_rows": rows,
        }

    def fingerprint(self, out: dict) -> str:
        return checks.fingerprint(out["pairs"], out["survivors"], out["store"])

    def found(self, out: dict) -> set[tuple[int, int]]:
        return {(s, n) for n, s, _ in out["pairs"]}

    def check(self, out: dict) -> list[str]:
        return checks.check_pairs(
            out["pairs"], self.oracle, self.cfg.threshold, ordered=False
        ) + (
            checks.check_store(
                out["pairs"], out["survivors"], self.corpus.ids(), self.seen_ids,
                out["_store_rows"], self.cfg.num_bands,
            )
        )

    def _written_bytes(self, root: str, since_ns: int = 0) -> int:
        return sum(
            os.stat(p).st_size
            for d, _, fs in os.walk(root) for f in fs
            if not d.endswith("_spec")
            and os.stat(p := os.path.join(d, f)).st_mtime_ns >= since_ns
        )

    def counters(self, h, out, tracer) -> dict[str, float]:
        sig_new = tracer.returns["minhash_signatures_array"][0]
        new_bands = lsh.compact_band_keys(sig_new, self.cfg)
        seen_bands = self.spark.read.parquet(f"{self.snapshot}/bands")
        cands = (
            new_bands.withColumnRenamed("doc_id", "a")
            .join(seen_bands.withColumnRenamed("doc_id", "b"), ["band", "band_key"])
            .select("a", "b").distinct().count()
        )
        written = self._written_bytes(self.store, self.run_started_ns)
        alone = os.path.join(self.work, "survivors_only_store")
        shutil.rmtree(alone, ignore_errors=True)
        bandstore.build_band_store(h["survivors"], self.cfg, alone)
        new_rows = self._written_bytes(alone)
        shutil.rmtree(alone, ignore_errors=True)
        return {
            "tables.input_tasks": h["docs"].rdd.getNumPartitions(),
            "lsh.candidates": cands,
            "lsh.max_bucket": _max_bucket(new_bands.unionByName(seen_bands)),
            "similarity.verified_pairs": len(out["pairs"]),
            "similarity.precision": len(out["pairs"]) / cands if cands else 0.0,
            "bandstore.bytes_written": written,
            "bandstore.write_amp": written / new_rows if new_rows else 0.0,
        }


WORKLOADS = {w.name: w for w in (UniqueLong, ClusteredDedup, StoreIngest)}
