"""The three workloads: what they write at set-up, the timed operation,
the output checks and the traced layer-by-layer build.

Every workload runs one *iteration* at a time (closed loop, one client):
a build followed by a rebuild. On `kg_job` the rebuild reuses the
semantic cache the build wrote; `kg_inline` and `dedup_pairs` keep no
state between runs, so their rebuild repeats the build and serves as the
control for the cache effect (prediction: rebuild_s == build_s).
"""

from __future__ import annotations

import hashlib
import random
import shutil
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delm_spark.constants import CACHE_HIT_COL, CACHE_KEY_COL, CHUNK_COL, CHUNK_POS_COL, ERRORS_COL
from delm_spark.extraction.backend import RuleTripleExtractor
from delm_spark.extraction.extract import extract_chunks
from delm_spark.kg.canonicalize import canonical_map
from delm_spark.kg.linking import link_mentions, normalize_mention, resolve_mention_residue
from delm_spark.kg.pipeline import (
    PipelineConfig,
    StageRunner,
    chunk_transcripts,
    run_pipeline,
    score_and_filter,
    triples_from_extracted,
)
from delm_spark.operators import dedup
from delm_spark.schemas.spec import spec_from_dict

import inputs
import oracle

EDGE_COLS = [
    "conv_id", "turn_idx", CHUNK_POS_COL, "item_pos", "subj", "pred", "obj",
    "subj_id", "obj_id", "subj_canonical", "obj_canonical",
]


def edge_digest(edges: DataFrame) -> tuple:
    """(rows, xor, masked sum) of a row hash over every edge column: one
    action that forces the complete output and fingerprints it, whatever
    the row order or column order of the frame."""
    h = F.xxhash64(*[F.col(c) for c in EDGE_COLS])
    r = edges.agg(
        F.count(F.lit(1)), F.bit_xor(h), F.sum(h.bitwiseAND(F.lit(0xFFFFFFF)))
    ).collect()[0]
    return tuple(r)


def force(df: DataFrame) -> None:
    """Run the whole plan of `df` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _frac(num, den) -> float:
    return float(num) / den if den else 0.0


class Workload:
    name = ""
    #: warm-up iterations before timing starts (from the recorded curves)
    warmup = 1

    def __init__(self, spark: SparkSession, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.last = None

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(str(self.work / "input" / name))

    def write(self, df: DataFrame, name: str) -> int:
        df.write.mode("overwrite").parquet(str(self.work / "input" / name))
        return self.read(name).count()

    def iteration(self, clock) -> tuple[dict, list]:
        """Build, then rebuild (stateless workloads repeat the build);
        the rebuild's output is kept for the checks."""
        t0 = clock()
        _, d1 = self._build()
        t1 = clock()
        self.last, d2 = self._build()
        t2 = clock()
        return {"build": t1 - t0, "rebuild": t2 - t1}, [d1, d2]


# ---------------------------------------------------------------- KG family

class _Kg(Workload):
    n_convs = 0
    n_hot = 4
    typo_rate = 0.0
    sample = 40

    def setup(self) -> dict:
        rows = self.write(
            inputs.transcripts(self.spark, self.seed, self.n_convs, self.n_hot, self.typo_rate),
            "transcripts",
        )
        pdf = pd.DataFrame(inputs.dictionary_rows(), columns=["surface", "canonical_id", "weight"])
        self.write(self.spark.createDataFrame(pdf).coalesce(1), "dictionary")
        rng = random.Random(self.seed)
        # one hot conversation plus a seeded sample of ordinary ones
        self.sample_ids = ["conv_00000000"] + [
            f"conv_{i:08d}" for i in rng.sample(range(self.n_hot, self.n_convs), self.sample)
        ]
        self.turns = [
            tuple(r)
            for r in self.read("transcripts")
            .filter(F.col("conv_id").isin(self.sample_ids))
            .select("conv_id", "turn_idx", "text")
            .collect()
        ]
        typos = inputs.typo_table(self.seed) if self.typo_rate else {}
        self.oracle = oracle.KgOracle(inputs.dictionary_rows(), typos)
        return {"transcripts": rows, "dictionary": len(pdf)}

    def check(self) -> list[str]:
        rows = (
            self.last.edges.filter(F.col("conv_id").isin(self.sample_ids))
            .select(*EDGE_COLS)
            .collect()
        )
        return self.oracle.check_edges(self.turns, rows)

    # -- traced build, shared by both KG workloads
    def _traced_chunks(self, spans, counts, transcripts):
        cfg = PipelineConfig()
        with spans.span("splitting"):
            chunks = chunk_transcripts(transcripts)
            force(chunks)
        chunks = materialize(chunks)
        counts["splitting.chunks_out"] = chunks.count()
        with spans.span("scoring"):
            kept = score_and_filter(chunks, cfg.keywords, cfg.score_threshold, cfg.score_op)
            force(kept)
        kept = materialize(kept)
        counts["scoring.kept"] = kept.count()
        counts["scoring.kept_frac"] = _frac(counts["scoring.kept"], counts["splitting.chunks_out"])
        return kept

    def _traced_link_and_edges(self, spans, counts, raw, dictionary, residue: bool):
        with spans.span("linking"):
            linked = link_mentions(raw, dictionary)
            force(linked)
        linked = materialize(linked)
        ends = linked.select(F.explode(F.array("subj_id", "obj_id")).alias("i"))
        n_ends = ends.count()
        counts["linking.unlinked_frac"] = _frac(
            ends.filter(F.col("i").startswith("mention:")).count(), n_ends
        )
        if residue:
            cfg = PipelineConfig(embedding_link=True)
            before = ends.filter(F.col("i").startswith("mention:")).distinct().count()
            with spans.span("linking.residue"):
                linked = resolve_mention_residue(
                    linked,
                    dictionary,
                    dim=cfg.embedding_dim,
                    n_planes=cfg.embedding_planes,
                    probe_radius=cfg.embedding_probe_radius,
                    threshold=cfg.embedding_link_threshold,
                )
                force(linked)
            linked = materialize(linked)
            after = (
                linked.select(F.explode(F.array("subj_id", "obj_id")).alias("i"))
                .filter(F.col("i").startswith("mention:"))
                .distinct()
                .count()
            )
            counts["linking.residue_candidates"] = before
            counts["linking.residue_recovered_frac"] = _frac(before - after, before)
        with spans.span("canonicalize"):
            labels = canonical_map(dictionary)
            l_s = labels.select(F.col("node").alias("subj_id"), F.col("canonical_id").alias("subj_canonical"))
            l_o = labels.select(F.col("node").alias("obj_id"), F.col("canonical_id").alias("obj_canonical"))
            edges = (
                linked.join(F.broadcast(l_s), "subj_id", "left")
                .join(F.broadcast(l_o), "obj_id", "left")
                .select(
                    *EDGE_COLS[:9],
                    F.coalesce("subj_canonical", F.col("subj_id")).alias("subj_canonical"),
                    F.coalesce("obj_canonical", F.col("obj_id")).alias("obj_canonical"),
                )
            )
            force(edges)
        edges = materialize(edges)
        counts["canonicalize.components"] = labels.select("canonical_id").distinct().count()
        return edges


class KgInline(_Kg):
    """`PipelineConfig()`: one lazy plan, native extraction, no writes."""

    name = "kg_inline"
    n_convs = 20_000
    warmup = 2

    def _build(self):
        res = run_pipeline(self.spark, self.read("transcripts"), self.read("dictionary"), PipelineConfig())
        return res, edge_digest(res.edges)

    def traced(self, spans) -> tuple[dict, tuple]:
        counts: dict = {}
        transcripts = materialize(self.read("transcripts"))
        dictionary = materialize(self.read("dictionary"))
        with spans.span("build"):
            kept = self._traced_chunks(spans, counts, transcripts)
            spec = spec_from_dict(PipelineConfig().schema_cfg)
            with spans.span("extraction"):
                # the pipeline's inline path: the backend's native typed
                # items, exploded to one row per triple
                items = RuleTripleExtractor(spec).native_extract_items(spec, F.col(CHUNK_COL))
                raw = (
                    kept.select("conv_id", "turn_idx", CHUNK_POS_COL, items.alias("__items"))
                    .select("conv_id", "turn_idx", CHUNK_POS_COL,
                            F.posexplode("__items").alias("item_pos", "__item"))
                    .select("conv_id", "turn_idx", CHUNK_POS_COL, "item_pos",
                            *[F.col(f"__item.{v.name}").alias(v.name) for v in spec.variables])
                )
                force(raw)
            raw = materialize(raw)
            counts["extraction.items_out"] = raw.count()
            counts["extraction.errors"] = 0
            edges = self._traced_link_and_edges(spans, counts, raw, dictionary, residue=False)
        return counts, edge_digest(edges)


class KgJob(_Kg):
    """The `submit_job.py` shape: stage checkpoints, embedding residue
    linking and a semantic cache. Build cold, rebuild over the warm cache."""

    name = "kg_job"
    n_convs = 5_000
    typo_rate = 0.04
    warmup = 1

    def __init__(self, *a):
        super().__init__(*a)
        self.iter_no = 0

    def _config(self, base: Path, ckpt: str) -> PipelineConfig:
        return PipelineConfig(
            checkpoint_dir=str(base / ckpt), embedding_link=True, cache_dir=str(base / "cache")
        )

    def _build(self, base: Path, ckpt: str):
        res = run_pipeline(
            self.spark, self.read("transcripts"), self.read("dictionary"), self._config(base, ckpt)
        )
        return res, edge_digest(res.edges)

    def iteration(self, clock) -> tuple[dict, list]:
        shutil.rmtree(self.work / f"job{self.iter_no - 1}", ignore_errors=True)
        base = self.work / f"job{self.iter_no}"
        self.iter_no += 1
        t0 = clock()
        _, d1 = self._build(base, "ckpt_build")
        t1 = clock()
        self.last, d2 = self._build(base, "ckpt_rebuild")
        t2 = clock()
        return {"build": t1 - t0, "rebuild": t2 - t1}, [d1, d2]

    def residue(self, edges: DataFrame) -> tuple[list[str], dict]:
        """Residue check over every edge endpoint whose surface is not a
        dictionary surface (the engine only gathers them)."""
        ends = edges.select(F.col("subj").alias("s"), F.col("subj_id").alias("i")).union(
            edges.select("obj", "obj_id")
        ).distinct()
        surfaces = [s for s, _, _ in inputs.dictionary_rows()]
        odd = ends.filter(~normalize_mention(F.col("s")).isin(surfaces)).collect()
        return self.oracle.check_residue([tuple(r) for r in odd])

    def check(self) -> list[str]:
        errs, self.typo_links = self.residue(self.last.edges)
        return super().check() + errs

    def traced(self, spans) -> tuple[dict, tuple]:
        counts: dict = {}
        base = self.work / "traced"
        shutil.rmtree(base, ignore_errors=True)
        transcripts = materialize(self.read("transcripts"))
        dictionary = materialize(self.read("dictionary"))
        spec = spec_from_dict(PipelineConfig().schema_cfg)
        backend = RuleTripleExtractor(spec)
        cache = str(base / "cache")
        with spans.span("build"):
            kept = self._traced_chunks(spans, counts, transcripts)
            narrow = materialize(kept.select("conv_id", "turn_idx", CHUNK_POS_COL, CHUNK_COL))
            with spans.span("extraction"):
                extracted = extract_chunks(narrow, spec, backend, dedup=True, cache_dir=cache)
                force(extracted)
            extracted = materialize(extracted)
            # the run partition the cold call appended holds one row per
            # backend call
            calls = self.spark.read.parquet(cache).count()
            with spans.span("extraction.warm"):
                warm = extract_chunks(narrow, spec, backend, dedup=True, cache_dir=cache)
                force(warm)
            warm = materialize(warm)
            calls_total = self.spark.read.parquet(cache).count()
            with spans.span("extraction.triples"):
                raw = triples_from_extracted(extracted, spec)
                force(raw)
            raw = materialize(raw)
            keys = warm.select(CACHE_KEY_COL, CACHE_HIT_COL).distinct()
            n_keys = keys.count()
            counts["extraction.items_out"] = raw.count()
            counts["extraction.errors"] = extracted.filter(F.col(ERRORS_COL).isNotNull()).count()
            counts["extraction.backend_calls"] = calls_total
            counts["extraction.backend_calls_cold"] = calls
            counts["extraction.dedup_frac"] = _frac(counts["scoring.kept"] - n_keys, counts["scoring.kept"])
            counts["extraction.cache_hit_frac"] = _frac(keys.filter(F.col(CACHE_HIT_COL)).count(), n_keys)
            counts["extraction.lookups"] = n_keys
            edges = self._traced_link_and_edges(spans, counts, raw, dictionary, residue=True)
            nodes = materialize(
                edges.select(F.col("subj_id").alias("entity_id"), F.col("subj_canonical").alias("canonical_id"))
                .unionByName(edges.select(F.col("obj_id").alias("entity_id"), F.col("obj_canonical").alias("canonical_id")))
                .dropDuplicates(["entity_id"])
            )
            runner = StageRunner(self.spark, str(base / "ckpt"))
            with spans.span("pipeline.write"):
                runner.stage("s1_chunks", lambda: kept)
                runner.stage("s2_extracted", lambda: extracted)
                runner.stage("s3_triples", lambda: raw)
                runner.stage("s4_edges", lambda: edges, partition_by=["pred"])
                runner.stage("s5_nodes", lambda: nodes, sort_by=["entity_id"])
        _, links = self.residue(edges)
        counts["linking.residue_wrong_frac"] = _frac(len(links["linked_elsewhere"]), links["linked"])
        files = [p for p in (base / "ckpt").rglob("*.parquet")]
        counts["pipeline.files"] = len(files)
        counts["pipeline.written_mb"] = sum(p.stat().st_size for p in files) / 2**20
        return counts, edge_digest(edges)


# ------------------------------------------------------------- pair family

class DedupPairs(Workload):
    """SimHash pairs, then MinHash LSH candidates verified by exact
    shingle Jaccard, over docs with planted near-duplicates."""

    name = "dedup_pairs"
    n_docs = 5_000
    words = 60
    clique = 40
    max_hamming = 3
    threshold = 0.8
    k, bands = 16, 8
    warmup = 1

    def setup(self) -> dict:
        rows = self.write(
            inputs.docs(self.spark, self.seed, self.n_docs, self.words, self.clique), "docs"
        )
        texts = {r[0]: r[1] for r in self.read("docs").collect()}
        self.planted = inputs.planted_pairs(inputs.doc_layout(self.n_docs, self.clique))
        self.oracle = oracle.PairOracle(texts, self.planted, self.max_hamming, self.threshold)
        return {"docs": rows, "planted_pairs": len(self.planted)}

    def _sim(self, docs):
        return dedup.simhash_dedup_pairs(docs, "text", "doc_id", max_hamming=self.max_hamming)

    def _cands(self, docs):
        return dedup.minhash_lsh_pairs(docs, "text", "doc_id", k=self.k, bands=self.bands)

    def _verify(self, docs, cands):
        return dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=self.threshold, candidates=cands
        )

    def _build(self):
        docs = self.read("docs")
        sim = [tuple(r) for r in self._sim(docs).collect()]
        ver = [tuple(r) for r in self._verify(docs, self._cands(docs)).collect()]
        return (sim, ver), self._digest(sim, ver)

    @staticmethod
    def _digest(sim, ver) -> str:
        return hashlib.sha256(repr((sorted(sim), sorted(ver))).encode()).hexdigest()

    def check(self) -> list[str]:
        return self.oracle.check(*self.last)

    def traced(self, spans) -> tuple[dict, str]:
        counts: dict = {}
        docs = materialize(self.read("docs"))
        with spans.span("build"):
            with spans.span("dedup.simhash"):
                sim = [tuple(r) for r in self._sim(docs).collect()]
            with spans.span("dedup.candidates"):
                cands = self._cands(docs)
                force(cands)
            cands = materialize(cands)
            with spans.span("dedup.verify"):
                ver = [tuple(r) for r in self._verify(docs, cands).collect()]
        counts["dedup.candidate_pairs"] = cands.count()
        counts["dedup.verified_pairs"] = len(ver)
        counts["dedup.verify_yield"] = _frac(len(ver), counts["dedup.candidate_pairs"])
        sig = dedup.minhash_signatures_agg(docs, "text", "doc_id", k=self.k)
        counts["dedup.max_bucket"] = (
            sig.select(F.posexplode(dedup.band_buckets(F.col("__sig"), self.k, self.bands)))
            .groupBy("pos", "col")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        return counts, self._digest(sim, ver)


WORKLOADS = {w.name: w for w in (KgInline, KgJob, DedupPairs)}
