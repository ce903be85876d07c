"""Frozen configuration defaults mirroring the reference's literal config records.

Reference sources (semantics only, no code copied):
  DEFAULT_SCRUB_CONFIG            /root/reference/schemas/schemas.ts:1094-1099
  defaultPipelineConfig           /root/reference/schemas/compressionPipeline.ts:74-99
  defaultNGramConfig              /root/reference/schemas/templateDetection.ts:44-54
  defaultEmbeddingConfig          /root/reference/schemas/semanticDedup.ts:51-62
  relevance thresholds            /root/reference/services/medicalRelevanceFilter.ts:353-368
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ScrubConfig:
    ml_confidence_threshold: float = 0.65
    enable_ml: bool = False  # deterministic path; ML NER is not byte-stable
    enable_regex: bool = True
    enable_context_detection: bool = True
    # Cascade selection (App.tsx:123-151): the production path runs the
    # WORKER rule set first, then the Effect pass over its output with maps
    # merged — the default mirrors App.tsx. "effect" runs only the Effect
    # cascade (the reference's deterministic test configuration, and the
    # config its byte-identical goldens pin).
    scrub_mode: str = "worker_then_effect"  # "effect" | "worker_then_effect"


@dataclass(frozen=True)
class QualityConfig:
    # simplified per-doc quality gate (compressionPipeline.effect.ts:102-135)
    ocr_min_quality: float = 0.3
    warn_below: float = 0.6


@dataclass(frozen=True)
class RelevanceConfig:
    keep_threshold: float = 60.0
    demote_threshold: float = 30.0
    # Fixed "current year" so recency scoring is deterministic & reproducible.
    current_year: int = 2026


@dataclass(frozen=True)
class NGramTemplateConfig:
    min_ngram_size: int = 2
    max_ngram_size: int = 5
    template_threshold: float = 0.3   # fraction of corpus
    min_docs_for_template: int = 3
    normalize_whitespace: bool = True
    lowercase_for_matching: bool = True
    strip_numbers: bool = False


@dataclass(frozen=True)
class DedupConfig:
    near_dup_similarity: float = 0.95     # simhash sim >= 0.95 => NEAR_DUPLICATE
    same_event_similarity: float = 0.70   # + same doc type + within 72h => SAME_EVENT
    same_event_window_hours: float = 72.0
    jaccard_threshold: float = 0.85       # word-set Jaccard dedup
    # 4 bands x 16 bits: pigeonhole-exact for the >=0.95 tier (dist<=3 means
    # one band is identical) with far higher bucket selectivity than 8x8 on
    # mutually-similar corpora; the 0.70 same-event tier stays probabilistic.
    simhash_bands: int = 4


@dataclass(frozen=True)
class LangIdConfig:
    keep_langs: tuple = ("en",)
    min_margin: float = 0.0  # best-language score margin over runner-up


@dataclass(frozen=True)
class ShapingConfig:
    """Optional corpus-shaping applied to the pipeline OUTPUT (after dedup
    and leak-check, before the sink) — the training-data-mix controls a CC
    pipeline runs last. Both default OFF (0) so the byte-identical output
    goldens are unaffected unless a run opts in.

    host_cap_n: keep only the best N docs per host (relevance desc, url/ts
    tiebreak) via the skew-safe salted two-phase top-N.
    lang_cap: deterministic per-language quota downsampling (integer-LCG
    predicate over xxhash64(url, warc_ts) — re-runs/backfills keep the
    SAME docs)."""
    host_cap_n: int = 0
    lang_cap: int = 0


@dataclass(frozen=True)
class PipelineConfig:
    shaping: "ShapingConfig" = field(default_factory=lambda: ShapingConfig())
    scrub: ScrubConfig = field(default_factory=ScrubConfig)
    quality: QualityConfig = field(default_factory=QualityConfig)
    relevance: RelevanceConfig = field(default_factory=RelevanceConfig)
    template: NGramTemplateConfig = field(default_factory=NGramTemplateConfig)
    dedup: DedupConfig = field(default_factory=DedupConfig)
    langid: LangIdConfig = field(default_factory=LangIdConfig)
    # Spark-side knobs
    shuffle_partitions: int = 32
    salt_buckets: int = 16          # salted repartition for skewed hosts
    url_buckets: int = 64           # output bucketing on url hash
    # pre-UDF round-robin repartition: evens partition sizes when the input
    # is skewed (Common-Crawl host skew). On an already-evenly-split input it
    # is a pure cost — a full-corpus shuffle that is intra-process at 1
    # executor but cross-JVM TCP at N executors (biases any single-host N vs
    # 4N comparison). Disable when input splits are known-uniform.
    pre_repartition: bool = True
    # host-salted variant: repartition(n, host, salt) keeps each host's rows
    # on <= salt_buckets partitions — use when a downstream op is keyed BY
    # host (e.g. stateful host dedup) so the heavy UDF stage leaves data
    # near-co-located; round-robin balances better when nothing is host-keyed
    host_salted_repartition: bool = False
    # Eagerly materialize the persisted label-stage frame before the
    # corpus-global half fans out. persist() is lazy, and the output plan
    # scans `labeled` through TWO independent branches (the slim dedup
    # verdict build, and the survivor join's probe side) whose stages have
    # no dependency edge — Spark submits them concurrently, so each computes
    # the label UDF for partitions the other hasn't cached yet. Measured at
    # 2M docs x 4x8 executors (BENCH/scaling_r7.jsonl, interleaved A/B):
    # lazy single-action wall 207.2 s vs eager-barrier wall 149.0 s (-28%).
    # Disable only for single-consumer plans or when an external checkpoint
    # (plans.resume) already materializes the stage.
    eager_label_barrier: bool = True


DEFAULT_PIPELINE_CONFIG = PipelineConfig()
