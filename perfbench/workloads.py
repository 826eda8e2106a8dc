"""The benchmark workloads, each against the engine's public entry points.

A workload writes its inputs from the seed (`generate`) on a new Spark
session; that is one set-up. After the set-ups, `warm_up` runs the workload
once outside the timed passes, so that no timed pass pays for JIT
compilation or for starting the Python workers: on a slice of the corpus
for kg_build and kg_ingest, which costs 6-8 s less per run than a
full-size pass and leaves the timed pass within noise of a fully warm one,
and on the full tables for query_mix, whose collected outputs `check`
compares with the DuckDB oracle. It returns its steal-adjusted seconds for
`setup_s`. `check` verifies the timed passes (`run_pass`) after they have
run. `trace_pass` runs one pass with a span around every call into a
layer, materializing each layer's output inside its span so that its Spark
jobs are charged to it.

Sizes are constants here, not knobs. They are small so that a run stays
under a minute on a four-core machine: every run pays about 7 s to start
Spark and 15-20 s for the cold warm-up pass besides its timed pass.
"""

from __future__ import annotations

import os
import re
import shutil
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np

import inputs
from harness import Stopwatch, digest, frames_match, row_digest

SIZES = {
    "kg_docs": 600,
    "ingest_docs": 400,
    "ingest_increments": 4,
    "query_docs": 250,
    "query_vectors": 250,
    "query_events": 10000,
    "warm_docs": 40,
}

MODELS = {"ner_model": "gazetteer_ner", "re_model": "cooccurrence_re"}
MAX_DISTANCE = 40
TRIPLE_COLS = ["doc_id", "subj", "pred", "obj"]
RELATION_COLS = ["doc_id", "head_mention_id", "tail_mention_id", "label"]

#: one query per pair-exploding or graph operator module: dedup, similarity,
#: coref, re_encoding, graph. The graph module's entry is the degree
#: profile, not the iterative kg_pagerank, to keep a run within its time.
QUERY_MIX = (
    "dedup_minhash_pairs",
    "embedding_near_dups",
    "kg_coref_pairs",
    "kg_re_windows",
    "kg_graph_degrees",
)


@dataclass
class PassResult:
    """One timed pass. `wall_s` and `op_s` are steal-adjusted seconds
    (harness.Stopwatch), `raw_s` the raw wall time of the pass."""

    wall_s: float
    raw_s: float
    op_s: list[float]
    docs: int
    rows: int
    failed: list[str] = field(default_factory=list)
    attempted: int = 1
    outputs: dict = field(default_factory=dict)


def _timed(fn):
    """(steal-adjusted seconds, result) of fn()."""
    watch = Stopwatch()
    out = fn()
    return watch.stop()[1], out


@contextmanager
def patched(module, **replacements):
    """Temporarily replace module attributes (the names a caller resolves)."""
    saved = {k: getattr(module, k) for k in replacements}
    for k, v in replacements.items():
        setattr(module, k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            setattr(module, k, v)


def _materialize(df):
    """Pin `df` and run it; returns (pinned frame, row count)."""
    pinned = df.persist()
    return pinned, pinned.count()


class Workload:
    name = ""
    #: output checks made once per run, on top of the per-pass ones
    extra_checks = 0

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        os.makedirs(work_dir, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def release(self) -> None:
        """Drop every cached or checkpointed block a pass left behind."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)


def reference_triples(table, gazetteer: dict[str, str]) -> set[tuple[str, str, str, str]]:
    """Deduplicated (doc_id, subj, pred, obj) of the cooccurrence model over
    gazetteer mentions, computed in plain Python: single-token mentions,
    ordered pairs whose inner character gap is at most MAX_DISTANCE."""
    from pytorch_ie_spark.operators.models import CooccurrenceRelationModel

    rules = CooccurrenceRelationModel.RULES
    tok = re.compile(r"\w+|[^\w\s]")
    out = set()
    cols = table.to_pydict()
    for repo, path, commit, text in zip(cols["repo"], cols["path"], cols["commit"], cols["content"]):
        doc_id = f"{repo}/{path}@{commit}"
        ms = [(m.start(), m.end(), gazetteer[m.group()]) for m in tok.finditer(text) if m.group() in gazetteer]
        for i, (hs, he, hl) in enumerate(ms):
            for j, (ts, te, tl) in enumerate(ms):
                if i == j or max(0, max(hs, ts) - min(he, te)) > MAX_DISTANCE:
                    continue
                pred = rules.get((hl, tl))
                if pred is not None:
                    out.add((doc_id, text[hs:he], pred, text[ts:te]))
    return out


class KgBuild(Workload):
    """Staged run_kg_pipeline with canonicalize and the LSH linker."""

    name = "kg_build"
    extra_checks = 3

    def generate(self) -> None:
        fams = inputs.planted_families(self.seed)
        self.families = {s: f for s, (f, _label) in fams.items()}
        self.gazetteer = inputs.kg_gazetteer(fams)
        self.table = inputs.kg_corpus(self.seed, SIZES["kg_docs"], "kg")
        inputs.write_table(self.table, self.path("kg.parquet"))
        inputs.write_table(inputs.kg_corpus(self.seed, SIZES["warm_docs"], "warm"), self.path("warm.parquet"))
        self.n_docs = SIZES["kg_docs"]
        self.reference = None

    def config(self):
        from pytorch_ie_spark.pipeline import KgPipelineConfig

        return KgPipelineConfig(
            ner_model=MODELS["ner_model"],
            ner_model_config={"gazetteer": self.gazetteer},
            re_model=MODELS["re_model"],
            max_candidate_distance=MAX_DISTANCE,
            canonicalize=True,
            linker="lsh",
        )

    def _pipeline(self, source: str = "kg.parquet"):
        from pytorch_ie_spark.pipeline import run_kg_pipeline

        return run_kg_pipeline(self.spark, self.spark.read.parquet(self.path(source)), self.config())

    def warm_up(self) -> float:
        """One pass over the warm-up slice."""
        wall, _ = _timed(lambda: digest(self._pipeline("warm.parquet"), TRIPLE_COLS))
        self.release()
        return wall

    def run_pass(self) -> PassResult:
        """One staged run. relations_to_triples receives the pinned
        relations, mentions and entity map; the first pass keeps what the
        checks need from them before their blocks are released."""
        from pytorch_ie_spark import pipeline

        args = []
        to_triples = pipeline.relations_to_triples

        def keep_args(*a):
            args.extend(a)
            return to_triples(*a)

        with patched(pipeline, relations_to_triples=keep_args):
            watch = Stopwatch()
            out = digest(self._pipeline(), TRIPLE_COLS)
            raw, wall = watch.stop()
        if self.reference is None:
            from pyspark.sql import functions as F

            relations, mentions, entity_ids = args
            self.reference = out
            self.staged = digest(relations.where(F.col("label") != "no_relation"), RELATION_COLS)
            self.entity = self.entity_map(mentions, entity_ids)
        self.release()
        return PassResult(wall, raw, [wall], self.n_docs, out[0], outputs={"triples": out})

    def check(self, passes: list[PassResult]) -> list[str]:
        """Every pass gives the first pass's triples; the staged relation set
        equals the fused extractor's; no two planted families merge; and the
        triples are the plain-Python reference relations mapped through the
        entity map."""
        from pytorch_ie_spark.operators.extract import extract_triples_fused
        from pytorch_ie_spark.sources.readers import documents_from_source_files

        ref = self.reference
        failed = [f"pass {i}: triples {p.outputs['triples']} != {ref}" for i, p in enumerate(passes) if p.outputs["triples"] != ref]
        fused = extract_triples_fused(
            documents_from_source_files(self.spark.read.parquet(self.path("kg.parquet"))),
            ner_model=MODELS["ner_model"],
            ner_config={"gazetteer": self.gazetteer},
            re_model=MODELS["re_model"],
            max_distance=MAX_DISTANCE,
        ).withColumnRenamed("pred", "label")
        d_fused = digest(fused, RELATION_COLS)
        if self.staged != d_fused:
            failed.append(f"staged relations {self.staged} != fused {d_fused}")
        precision = self.family_scores(self.entity)["family_precision"]
        if precision != 1.0:
            failed.append(f"canonicalize merged planted families: precision {precision}")
        e = self.entity
        mapped = row_digest({(d, e.get(s, s), p, e.get(o, o)) for d, s, p, o in reference_triples(self.table, self.gazetteer)})
        if mapped != ref:
            failed.append(f"triples {ref} != reference relations through the entity map {mapped}")
        return failed

    @staticmethod
    def entity_map(mentions, entity_ids) -> dict[str, str]:
        """surface -> entity id, from the mentions and the (mention_id,
        entity_id) map canonicalize_mentions returned."""
        rows = mentions.select("mention_id", "surface").join(entity_ids, "mention_id").select("surface", "entity_id").distinct().collect()
        return {r["surface"]: r["entity_id"] for r in rows}

    def family_scores(self, entity: dict[str, str]) -> dict:
        """Pairwise recall and precision of the entity map against the
        planted families, over the surfaces that occur as mentions."""

        def pairs(groups: Counter) -> int:
            return sum(n * (n - 1) // 2 for n in groups.values())

        family = {s: self.families.get(s, s) for s in entity}
        same_fam = pairs(Counter(family.values()))
        same_ent = pairs(Counter(entity.values()))
        both = pairs(Counter((family[s], entity[s]) for s in entity))
        return {
            "surfaces": len(entity),
            "entities": len(set(entity.values())),
            "family_recall": both / same_fam if same_fam else 1.0,
            "family_precision": both / same_ent if same_ent else 1.0,
        }

    def trace_pass(self, tracer) -> dict:
        from pytorch_ie_spark import pipeline

        counts: dict[str, int] = {}
        calls = {}

        def layer(name, fn, count_key=None):
            def call(*a, **k):
                calls[fn.__name__] = a
                with tracer.span(name):
                    out = fn(*a, **k)
                    df, n = _materialize(out[0] if isinstance(out, tuple) else out)
                if count_key:
                    counts[count_key] = n
                return (df,) + out[1:] if isinstance(out, tuple) else df

            return call

        with patched(
            pipeline,
            documents_from_source_files=layer("readers", pipeline.documents_from_source_files),
            detect_mentions=layer("mentions", pipeline.detect_mentions, "mentions.rows"),
            extract_relations_batched=layer("relations", pipeline.extract_relations_batched, "relations.rows"),
            canonicalize_mentions=layer("canonicalize", pipeline.canonicalize_mentions),
            relations_to_triples=layer("triples", pipeline.relations_to_triples, "triples.raw_rows"),
            dedupe_triples=layer("triples", pipeline.dedupe_triples, "triples.rows"),
        ):
            with tracer.span("pipeline") as top:
                digest(self._pipeline(), TRIPLE_COLS)
        _relations, mentions, entity_ids = calls["relations_to_triples"]
        canon = self.family_scores(self.entity_map(mentions, entity_ids))
        self.release()
        layers = tracer.layer_totals()
        out = {"wall_s": top["end"] - top["start"], "pipeline.unattributed_s": layers["pipeline"]["s"]}
        for name in ("readers", "mentions", "relations", "canonicalize", "triples"):
            out[f"{name}.s"] = layers[name]["s"]
            out[f"{name}.tasks"] = layers[name]["tasks"]
            out[f"{name}.stages"] = layers[name]["stages"]
        out["mentions.rows"] = counts["mentions.rows"]
        out["relations.rows"] = counts["relations.rows"]
        out["triples.rows"] = counts["triples.rows"]
        out["triples.dedup_ratio"] = counts["triples.rows"] / counts["triples.raw_rows"]
        out.update({f"canonicalize.{k}": v for k, v in canon.items()})
        return out


class KgIngest(Workload):
    """Seeded increments through ingest_increment, then a replay of the
    committed units, read_triples and compact_triples."""

    name = "kg_ingest"
    extra_checks = 0

    def generate(self) -> None:
        k, n = SIZES["ingest_increments"], SIZES["ingest_docs"]
        self.table = table = inputs.kg_corpus(self.seed, n, "ingest")
        inputs.write_table(table, self.path("ingest.parquet"))
        inputs.write_table(inputs.kg_corpus(self.seed, SIZES["warm_docs"], "warm"), self.path("warm.parquet"))
        order = np.random.default_rng([self.seed, n]).permutation(n)
        cuts = np.sort(np.random.default_rng([self.seed, n, k]).choice(np.arange(1, n), k - 1, replace=False))
        parts = np.split(order, cuts)
        for i, idx in enumerate(parts):
            inputs.write_table(table.take(np.sort(idx)), self.path(f"ingest_inc{i:02d}.parquet"))
        self.sizes = [len(p) for p in parts]
        self.n_docs = SIZES["ingest_docs"]
        self.out_dirs = 0

    def _one_pass(self, build_rows=None, span=lambda name: nullcontext()) -> dict:
        """All increments, the replay, the committed read, the compaction
        and a read of the compacted snapshot, into a fresh output directory;
        returns what each step reported. `span(name)` wraps each step."""
        from pytorch_ie_spark.plans.incremental import compact_triples, ingest_increment, read_triples

        self.out_dirs += 1
        out_dir = self.path(f"out{self.out_dirs}")
        read = self.spark.read.parquet

        def ingest(src: str) -> dict:
            with span("ingest"):
                return ingest_increment(self.spark, read(self.path(src)), out_dir, build_rows=build_rows, max_distance=MAX_DISTANCE, **MODELS)

        res = {"inc_s": [], "units": []}
        for i in range(SIZES["ingest_increments"]):
            dt, r = _timed(lambda i=i: ingest(f"ingest_inc{i:02d}.parquet"))
            res["inc_s"].append(dt)
            res["units"].append(r["processed_units"])
        res["replay"] = ingest("ingest.parquet")
        with span("read_triples"):
            res["read"] = digest(read_triples(self.spark, out_dir), TRIPLE_COLS)
        with span("compact"):
            res["compact"] = compact_triples(self.spark, out_dir, out_dir + "_compact")
        with span("read_triples"):
            res["compacted"] = digest(read(out_dir + "_compact"), TRIPLE_COLS)
        res["bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(os.path.join(out_dir, "triples"))
            for f in files
            if f.endswith(".parquet")
        )
        return res

    def _cleanup(self) -> None:
        for d in os.listdir(self.work):
            if d.startswith("out"):
                shutil.rmtree(self.path(d))

    def warm_up(self) -> float:
        """Half the slice into an empty output directory, then the whole
        slice through the anti-join against the committed units, the read
        and the compaction."""
        from pytorch_ie_spark.plans.incremental import compact_triples, ingest_increment, read_triples

        def slice_pass() -> None:
            out = self.path("out_warm")
            src = self.spark.read.parquet(self.path("warm.parquet"))
            for part in (src.randomSplit([0.5, 0.5], seed=self.seed)[0], src):
                ingest_increment(self.spark, part, out, max_distance=MAX_DISTANCE, **MODELS)
            read_triples(self.spark, out).count()
            compact_triples(self.spark, out, out + "_compact")

        wall, _ = _timed(slice_pass)
        self._cleanup()
        return wall

    def run_pass(self) -> PassResult:
        watch = Stopwatch()
        res = self._one_pass()
        raw, wall = watch.stop()
        self._cleanup()
        failed = [f"increment {i}: {u} units != {n}" for i, (u, n) in enumerate(zip(res["units"], self.sizes)) if u != n]
        if res["replay"]["processed_units"] != 0:
            failed.append(f"replay processed {res['replay']['processed_units']} units")
        return PassResult(
            wall,
            raw,
            res["inc_s"],
            self.n_docs,
            res["read"][0],
            failed=failed,
            attempted=len(res["inc_s"]) + 3,
            outputs={"read": res["read"], "compacted": res["compacted"]},
        )

    def check(self, passes: list[PassResult]) -> list[str]:
        """Committed and compacted triples equal the plain-Python relations
        of the models over the whole corpus, which is what one-shot
        fused_triples gives (kg_build checks the fused extractor against the
        same reference)."""
        from pytorch_ie_spark.operators.models import GazetteerNerModel

        ref = row_digest(reference_triples(self.table, GazetteerNerModel.DEFAULT))
        return [
            f"pass {i}: {k} {p.outputs[k]} != reference {ref}"
            for i, p in enumerate(passes)
            for k in ("read", "compacted")
            if p.outputs[k] != ref
        ]

    def trace_pass(self, tracer) -> dict:
        """Each increment in an `ingest` span whose `extract` child
        materializes the extracted rows, so the increment's self time is its
        commit work: the pending anti-join, the appends and the re-reads.
        `read_triples` covers both reads of the committed triples."""
        from pytorch_ie_spark.operators.extract import extract_triples_fused, fused_triples
        from pytorch_ie_spark.sources.readers import documents_from_source_files

        raw_rows = []

        def build_rows(pending):
            with tracer.span("extract"):
                raw, n = _materialize(extract_triples_fused(documents_from_source_files(pending), max_distance=MAX_DISTANCE, **MODELS))
                raw_rows.append(n)
                rows, _n = _materialize(fused_triples(raw))
            return rows

        with tracer.span("pipeline") as top:
            res = self._one_pass(build_rows=build_rows, span=tracer.span)
        self._cleanup()
        self.release()
        layers = tracer.layer_totals()
        inc = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "ingest"][: SIZES["ingest_increments"]]
        committed = res["read"][0]
        return {
            "wall_s": top["end"] - top["start"],
            "pipeline.unattributed_s": layers["pipeline"]["s"],
            "ingest.p50_s": float(np.percentile(inc, 50)),
            "ingest.p90_s": float(np.percentile(inc, 90)),
            "ingest.commit_s": layers["ingest"]["s"],
            "ingest.tasks": layers["ingest"]["tasks"],
            "ingest.units": sum(res["units"]),
            "ingest.skipped_units": self.n_docs - res["replay"]["processed_units"],
            "ingest.bytes_written": res["bytes"],
            "ingest.bytes_per_triple": res["bytes"] / committed,
            "extract.s": layers["extract"]["s"],
            "extract.tasks": layers["extract"]["tasks"],
            "extract.stages": layers["extract"]["stages"],
            "extract.raw_rows": sum(raw_rows),
            "extract.dedup_ratio": committed / sum(raw_rows),
            "read_triples.s": layers["read_triples"]["s"],
            "compact.s": layers["compact"]["s"],
            "compact.files_before": res["compact"]["files_before"],
            "compact.files_after": res["compact"]["files_after"],
        }


class QueryMix(Workload):
    """A fixed list of QUERIES entries written to the noop sink."""

    name = "query_mix"
    extra_checks = len(QUERY_MIX)

    def generate(self) -> None:
        tables = inputs.query_tables(self.seed, SIZES["query_docs"], SIZES["query_vectors"], SIZES["query_events"])
        for t, table in tables.items():
            inputs.write_table(table, self.path(f"{t}.parquet"))
        self.n_docs = SIZES["query_docs"]

    def _query(self, name: str):
        from pytorch_ie_spark.queries import QUERIES

        return QUERIES[name][0](self.spark, self.work)

    def _run(self, name: str) -> None:
        self._query(name).write.format("noop").mode("overwrite").save()
        self.release()

    def warm_up(self) -> float:
        """Every query once, collected for `check` to compare with the
        DuckDB oracle."""
        self.got, wall = {}, 0.0
        for q in QUERY_MIX:
            dt, self.got[q] = _timed(lambda q=q: self._query(q).toPandas())
            wall += dt
            self.release()
        return wall

    def run_pass(self) -> PassResult:
        watch = Stopwatch()
        ops = [_timed(lambda q=q: self._run(q))[0] for q in QUERY_MIX]
        raw, wall = watch.stop()
        rows = sum(len(pdf) for pdf in self.got.values())
        return PassResult(wall, raw, ops, self.n_docs, rows, attempted=len(ops))

    def check(self, passes: list[PassResult]) -> list[str]:
        """Each output against its DuckDB oracle (harness.frames_match)."""
        import duckdb

        from pytorch_ie_spark.queries import QUERIES

        failed = []
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings", "events"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.path(t + '.parquet')}')")
            for q in QUERY_MIX:
                want = con.sql(QUERIES[q][1]).df()
                if not frames_match(self.got[q], want):
                    failed.append(f"{q}: {len(self.got[q])} rows vs oracle {len(want)}, or the values differ")
        finally:
            con.close()
        return failed

    def trace_pass(self, tracer) -> dict:
        with tracer.span("pipeline") as top:
            for q in QUERY_MIX:
                with tracer.span(f"q.{q}"):
                    self._run(q)
        layers = tracer.layer_totals()
        out = {"wall_s": top["end"] - top["start"], "pipeline.unattributed_s": layers["pipeline"]["s"]}
        for q in QUERY_MIX:
            out[f"q.{q}.s"] = layers[f"q.{q}"]["s"]
            out[f"q.{q}.tasks"] = layers[f"q.{q}"]["tasks"]
            out[f"q.{q}.stages"] = layers[f"q.{q}"]["stages"]
            out[f"q.{q}.rows"] = len(self.got[q])
        return out


WORKLOADS = {w.name: w for w in (KgBuild, KgIngest, QueryMix)}
