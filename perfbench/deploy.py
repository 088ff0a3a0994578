"""One build of the pipeline ``tools/submit_pipeline.py`` deploys, called
through the layers' public functions.

``volatile_build`` is the deploy's ``--volatile --triples`` path and
``durable_build`` its default ``--triples`` path (per-bucket committed
report, stage-committed KG), with the deploy's config: presidio, the
``custom_token`` regex, the ``has_email`` group, the two-entry alias
dictionary on the volatile path (the durable path passes none, as the deploy
does), ``--n-buckets`` 64 with 8 commit groups, and ``KG_MAX_BUCKET``.
Both read the pages table through ``pipeline.extract_text``.

``traced_volatile_build`` calls the same KG functions ``kg.build_triples``
composes, one layer at a time, with an eager cut after each layer so that
each layer's jobs run inside its own span.
"""

from __future__ import annotations

import contextlib
import types

from ner_backend_spark.flagship import KG_MAX_BUCKET
from ner_backend_spark.spark import kg, pipeline
from ner_backend_spark.spark.checkpoint import CheckpointedReportRunner
from ner_backend_spark.spark.checkpoint_kg import CheckpointedKgRunner
from ner_backend_spark.spark.tagger import ReportConfig

from . import checks

CONFIG = ReportConfig.make(
    model_type="presidio",
    custom_tags={"custom_token": r"a1b2c3"},
    groups={"has_email": "COUNT(EMAIL) > 0"},
)
ALIAS = [("user0@example.com", "ENT_USER0"), ("a1b2c3", "ENT_TOKEN")]
THRESHOLD = 0.5
N_BUCKETS = 64
BUCKETS_PER_COMMIT = N_BUCKETS // 8


def alias_df(spark):
    return spark.createDataFrame(ALIAS, "surface string, canonical_id string")


def pages(spark, path: str):
    return pipeline.extract_text(spark.read.parquet(path)).select("url", "text")


def volatile_build(spark, path: str, aliases):
    """-> (entities, triples digest). The entities frame stays readable
    (a lazy local checkpoint, as in the deploy) for the output check; the
    digest aggregate is the sink that consumes every triple."""
    out = pipeline.run_report(pages(spark, path), CONFIG)
    entities = out.entities.localCheckpoint(eager=False)
    entities.count()
    triples = kg.build_triples(
        entities.select("url", "label", "text"),
        None,
        aliases,
        threshold=THRESHOLD,
        max_bucket_size=KG_MAX_BUCKET,
    )
    return entities, checks.spark_digest(triples)


def no_span(name: str):
    """Stand-in for a tracer's ``span`` when nothing is traced."""
    return contextlib.nullcontext(types.SimpleNamespace())


def durable_build(spark, path: str, out: str, span=no_span) -> dict:
    """Commit report and KG under ``out``; resumes whatever is complete."""
    with span("checkpoint"):
        report = CheckpointedReportRunner(
            spark, CONFIG, out, n_buckets=N_BUCKETS,
            buckets_per_commit=BUCKETS_PER_COMMIT,
        ).run(pages(spark, path))
    with span("checkpoint_kg") as s:
        entities = spark.read.parquet(f"{out}/entities").select(
            "url", "label", "text"
        )
        groups = spark.read.parquet(f"{out}/object_groups").select(
            "url", "group_name"
        )
        kg_res = CheckpointedKgRunner(
            spark, out, max_bucket_size=KG_MAX_BUCKET
        ).run(entities, groups)
        s.rows_out = spark.read.parquet(f"{out}/kg/triples").count()
    return {
        "run_id": report["run_id"],
        "processed_buckets": report["processed_buckets"],
        "failed_buckets": report["failed_buckets"],
        "stages_run": kg_res["stages_run"],
        "stages_skipped": kg_res["stages_skipped"],
        "triples": s.rows_out,
    }


def _cut(df):
    """Eager local checkpoint: the layer's jobs run now; returns (df, rows)."""
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def traced_volatile_build(spark, path: str, aliases, span):
    """``volatile_build`` layer by layer; ``span(name)`` is a context manager
    whose value takes ``rows_out`` and extra counters. Returns
    (entities, digest, mentions) — the mentions feed the candidate-pair
    count taken after the build."""
    with span("pipeline") as s:
        p, s.rows_out = _cut(pages(spark, path))
    with span("tagger") as s:
        entities, s.rows_out = _cut(pipeline.run_report(p, CONFIG).entities)
    ents = entities.select("url", "label", "text")
    with span("kg.mentions") as s:
        mentions, s.rows_out = _cut(kg.extract_mentions(ents))
    with span("kg.edges") as s:
        edges, hits = kg.mention_edges(
            mentions, aliases, THRESHOLD, max_bucket_size=KG_MAX_BUCKET
        )
        edges, s.rows_out = _cut(edges)
    with span("kg.components") as s:
        comp, s.rows_out = _cut(kg.connected_components(edges))
    with span("kg.canonical") as s:
        canon, s.rows_out = _cut(kg.canonical_map(mentions, comp, hits))
    with span("kg.triples") as s:
        digest = checks.spark_digest(kg.triples_from_canonical(ents, canon, None))
        s.rows_out = digest[0]
    return entities, digest, mentions


def candidate_pairs(mentions) -> int:
    """LSH candidate pairs ``kg.mention_edges`` scores, counted apart."""
    return kg.lsh_candidate_pairs(mentions, max_bucket_size=KG_MAX_BUCKET).count()
