"""End-to-end KG-construction pipeline orchestrator.

    source_files -> documents -> mentions -> candidates -> relations
                 -> canonicalization -> triples (+ lineage per stage)

Mirrors PyTorchIEPipeline.__call__ (reference: src/pytorch_ie/pipeline.py:309-431)
with Spark-stage boundaries; every stage is checkpoint-resumable via
plans/lineage.run_stage when a ckpt_dir is given, and skew-managed via
plans/skew helpers.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.canonicalize import canonicalize_mentions
from .operators.mentions import detect_mentions
from .operators.relations import extract_relations_batched
from .operators.triples import dedupe_triples, relations_to_triples
from .plans.lineage import run_stage
from .plans.skew import size_bucketed
from .sources.readers import documents_from_source_files


@dataclass
class KgPipelineConfig:
    ner_model: str = "rule_ner"
    ner_model_config: dict = field(default_factory=dict)
    re_model: str = "rule_re"
    re_model_config: dict = field(default_factory=dict)
    max_window: int = 128
    window_overlap: int = 16
    max_candidate_distance: int | None = 200
    canonicalize: bool = True
    # 0.8 keeps near-identical variants together but distinct entities with a
    # shared prefix ("entity a" vs "entity g" = 0.714) apart; true aliases are
    # the linking dictionary's job
    jaccard_threshold: float = 0.8
    # entity-id assignment when canonicalize is on:
    #   'lsh'        (default) — MinHash-LSH surface canonicalization + CC
    #                (+ alias-dict linking), the reference's linking analog,
    #   'generative' — GENRE-style trie-constrained decode per mention
    #                (operators/entity_linking_gen.py); ids are
    #                'gen:<decoded KB entity>'.
    linker: str = "lsh"
    none_label: str = "no_relation"
    # skew handling
    salt_partitions: int | None = None


def run_kg_pipeline(
    spark: SparkSession,
    source_files: DataFrame,
    config: KgPipelineConfig | None = None,
    ckpt_dir: str | None = None,
) -> DataFrame:
    """Returns the triples DataFrame; materializes per-stage snapshots +
    lineage when ckpt_dir is given."""
    cfg = config or KgPipelineConfig()
    if cfg.linker not in ("lsh", "generative"):
        # a typo ('genre', 'generativ') would otherwise silently fall
        # through to the LSH canonicalization path
        raise ValueError(
            f"KgPipelineConfig.linker must be 'lsh' or 'generative', "
            f"got {cfg.linker!r}"
        )

    def stage(name: str, build, partition_cols=None) -> DataFrame:
        if ckpt_dir:
            return run_stage(spark, ckpt_dir, name, build, partition_cols)
        return build()

    def build_documents() -> DataFrame:
        docs = documents_from_source_files(source_files)
        # one shuffle on the row-content hash, sorted by size bucket within
        # each partition: even UDF partitions with length-homogeneous
        # batches, and the content hash spreads a mega-repo's documents too.
        # A salt fixes the partition count, which also spares size_bucketed
        # its partition probe
        return size_bucketed(
            docs, F.length("text"), num_partitions=cfg.salt_partitions
        )

    def once(df: DataFrame) -> DataFrame:
        # without a ckpt_dir nothing materializes stages, and downstream
        # references (relations + canonicalization + both triple joins) would
        # re-run the NER UDF per reference — pin each stage exactly once
        return df if ckpt_dir else df.localCheckpoint(eager=False)

    documents = once(stage("documents", build_documents))

    mentions = once(
        stage(
            "mentions",
            lambda: detect_mentions(
                documents,
                model_name=cfg.ner_model,
                model_config=cfg.ner_model_config,
                max_window=cfg.max_window,
                window_overlap=cfg.window_overlap,
            ),
        )
    )

    def build_relations() -> DataFrame:
        # fused candidates+classify, ONE Python call per Arrow batch
        # spanning many docs (the 10^12-doc shape)
        return extract_relations_batched(
            documents,
            mentions,
            model_name=cfg.re_model,
            model_config=cfg.re_model_config,
            max_distance=cfg.max_candidate_distance,
            none_label=cfg.none_label,
        )

    relations = once(stage("relations", build_relations))

    def build_triples() -> DataFrame:
        entity_map = None
        if cfg.canonicalize and cfg.linker == "generative":
            from .operators.entity_linking_gen import link_entities_generative

            # pin like every other stage: relations_to_triples references
            # the entity map twice (subj and obj joins), which would run
            # the per-mention trie decode twice per action otherwise
            entity_map = once(
                link_entities_generative(
                    mentions,
                    id_col="mention_id",
                ).select(
                    "mention_id",
                    F.concat(F.lit("gen:"), F.col("entity")).alias(
                        "entity_id"
                    ),
                )
            )
        elif cfg.canonicalize:
            entity_map, _ = canonicalize_mentions(
                mentions, jaccard_threshold=cfg.jaccard_threshold
            )
            entity_map = once(entity_map)
        t = relations_to_triples(relations, mentions, entity_map)
        return dedupe_triples(t)

    triples = stage("triples", build_triples, partition_cols=["pred"] if ckpt_dir else None)
    return triples
