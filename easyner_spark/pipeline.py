"""End-to-end KG pipeline orchestration (the `main.py` analog).

Reference analog: main.py:279-409 — a hard-coded stage chain gated by
a config ``ignore`` map, with per-stage wall-clock bookkeeping
(timekeep.txt, main.py:288-292). Here each stage is a lazy DataFrame
transformation; stage boundaries are CheckpointCatalog commits
(partitioned parquet + manifest = resumable snapshots), and the
timings/counters are returned as a lineage report instead of a text
file.

Run on a cluster:
    spark-submit --py-files easyner_spark.zip -m easyner_spark.pipeline \
        --input pages_parquet_or_iceberg --warehouse /path/wh

(in this sandbox: ``python -m easyner_spark.pipeline --n-docs 2000
--warehouse /tmp/wh`` uses the synthetic corpus).
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import pkgutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus import GAZETTEER, NEL_LOOKUP, pages_df
from .io.catalog import CheckpointCatalog, content_fold
from .stages.analysis import entity_frequency, id_frequency
from .stages.canonical import canonicalize_entities
from .stages.extract import audit_hashes, extract_documents
from .stages.merge import resolve_conflicts
from .stages.ner_dict import dict_ner
from .stages.nel import link_entities
from .stages.split import split_documents
from .stages.triples import cooccurrence_triples

STAGES = (
    "documents", "screen", "dedup", "sentences", "mentions", "linked",
    "canonical", "triples", "graph", "analysis",
)
# screen and dedup are opt-in (and sticky once committed, see below)
DEFAULT_STAGES = frozenset(STAGES) - {"screen", "dedup"}

# engine source each stage runs, beside textops.py (the shared text
# core) and this module (which composes the stage frames); a lineage
# signature covers their digest
_STAGE_SOURCES = {
    "documents": ("stages/extract.py",),
    "screen": ("ops/curation.py",),
    "dedup": ("stages/canonical.py",),
    "sentences": ("stages/split.py",),
    "mentions": ("stages/ner_dict.py", "stages/merge.py"),
    "linked": ("stages/nel.py",),
    "canonical": ("stages/canonical.py",),
    "triples": ("stages/triples.py",),
    "graph": ("ops/graph.py",),
    "analysis": ("stages/analysis.py",),
}


def check_stages(stages) -> None:
    unknown = set(stages) - set(STAGES)
    if unknown:
        raise ValueError(
            f"unknown stage(s) {', '.join(sorted(unknown))}; "
            f"valid stages: {', '.join(STAGES)}"
        )


@functools.lru_cache(maxsize=None)
def _source_digest(modules: tuple[str, ...]) -> str:
    """sha256 over the package source files a stage runs. Read through
    the package loader, so it also works from a --py-files zip; when the
    source is not readable the digest is unique to this process, so a
    later process never skips on it."""
    h = hashlib.sha256()
    for rel in modules + ("textops.py", "pipeline.py"):
        try:
            h.update(pkgutil.get_data(__package__, rel))
        except OSError:
            return uuid.uuid4().hex
    return h.hexdigest()


def _signature(**parts) -> str:
    # parts are built in a fixed order, so equal inputs give equal text
    return hashlib.sha256(json.dumps(parts, default=repr).encode()).hexdigest()


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    gazetteer=None,
    nel_lookup=None,
    n_batches: int = 64,
    canonicalize: bool = True,
    stages: set[str] | None = None,
    resolve_single_run_conflicts: bool = False,
    analysis_sets: bool = False,
    analysis_approx: bool = False,
    triples_cap: int | None = None,
) -> dict:
    """Execute (and checkpoint) the full chain; returns the lineage
    report {stage: {sec, rows_committed, batches_committed, resume}}.
    ``stages`` filters which stages run (the reference's `ignore` map,
    inverted); an unknown name raises ValueError.

    Resume: every commit records an input signature — the committed
    counters of the stages it reads (a content fold of ``pages`` for
    documents), its parameters and its source digest. A stage whose
    signature is unchanged is ``skipped`` without building its frame;
    otherwise the catalog's verify path re-commits only the partitions
    whose content changed (``verified`` when none did, ``written``
    when some were committed or retracted).

    ``analysis_sets``: opt back into the reference's articles_set
    column (bounded/test corpora only — an unbounded array per surface
    at web scale). ``triples_cap``: opt-in per-sentence mention cap for
    entity-stuffed pages (None = exact, matches the sequential oracle;
    set e.g. 32 on open web text and monitor the capped-sentence rate)."""
    if stages:
        check_stages(stages)
    gazetteer = gazetteer if gazetteer is not None else GAZETTEER
    nel_lookup = nel_lookup if nel_lookup is not None else NEL_LOOKUP
    cat = CheckpointCatalog(warehouse)
    report: dict[str, dict] = {}
    want = stages or DEFAULT_STAGES
    use_canon = canonicalize and "canonical" in want

    def lineage(stage: str, inputs: list[str], **params) -> str:
        return _signature(
            inputs=[[s, cat.state(s)] for s in inputs],
            params=params,
            source=_source_digest(_STAGE_SOURCES[stage]),
        )

    def commit(name: str, build, sig: str, allow_empty: bool = False, peers=()) -> DataFrame:
        """Commit ``build()`` as stage ``name`` unless it and its
        ``peers`` (stages written from the same call) all carry ``sig``;
        returns the committed table."""
        t0 = time.time()
        snap: dict = {}
        if all(cat.is_current(s, sig) for s in (name, *peers)):
            resume = "skipped"
        else:
            snap = cat.write_stage(build(), name, allow_empty=allow_empty, lineage=sig)
            resume = "written" if snap.get("counters") or snap.get("retracted") else "verified"
        report[name] = {
            "sec": round(time.time() - t0, 3),
            "rows_committed": sum(c["rows"] for c in snap.get("counters", {}).values()),
            "batches_committed": len(snap.get("counters", {})),
            "resume": resume,
        }
        # a signed commit always leaves a schema-stamped manifest, so an
        # empty stage (e.g. gazetteer matched nothing) reads back as a
        # typed empty frame and downstream stages report zeros
        return cat.read_stage(spark, name)

    def need(name: str, for_stage: str) -> DataFrame:
        """Checkpointed input for a --stages subset run; a clear error
        (not a missing-parquet AnalysisException) when the prerequisite
        stage was never committed to this warehouse."""
        if not cat.committed_batches(name):
            raise ValueError(
                f"stage '{for_stage}' needs '{name}' committed in {warehouse}; "
                f"run --stages {name} against this warehouse first"
            )
        return cat.read_stage(spark, name)

    docs = sents = mentions = linked = None
    docs_stage = "documents"  # the documents table sentences are split from
    if "documents" in want:
        docs = commit(
            "documents",
            lambda: extract_documents(pages, n_batches=n_batches),
            lineage("documents", [], pages=content_fold(pages), n_batches=n_batches),
        )
        report["documents"]["audit"] = [
            row.asDict() for row in audit_hashes(docs).orderBy("batch_id").collect()
        ][:8]

    # the screen is STICKY per warehouse: once documents_screened has
    # ever been committed here, every later run that REBUILDS a
    # documents consumer re-screens — otherwise a re-run without
    # --screen would rebuild sentences from the RAW documents table and
    # re-expose scrubbed PII downstream while documents_screened still
    # claims the corpus was scrubbed. Runs that touch no documents
    # consumer (e.g. --stages graph) skip the recompute entirely.
    docs_consumer = bool({"sentences", "screen", "dedup"} & want)
    if "screen" in want or (
        docs_consumer and cat.committed_batches("documents_screened")
    ):
        # opt-in PII screen (ops/curation.py): scrub matches in place
        # and keep the per-doc count for routing/reporting. A narrow
        # whole-stage-codegen projection — no shuffle beyond the commit.
        from .ops.curation import screen_documents

        docs = docs if docs is not None else need("documents", "screen")

        def screen():
            return screen_documents(docs).select(
                *[c for c in docs.columns if c != "text"],
                F.col("text_scrubbed").alias("text"),
                "pii_total",
            )

        docs = commit("documents_screened", screen, lineage("screen", [docs_stage]))
        docs_stage = "documents_screened"
        # column-pruned scan of the committed table (pii_total only)
        report["documents_screened"]["pii_docs"] = docs.filter(
            F.col("pii_total") > 0
        ).count()

    # near-dup document dedup (same stickiness rule as the screen): the
    # canonical member (min doc_id) of every MinHash-LSH component is
    # kept, other members dropped BEFORE sentence splitting — the
    # curation order a training pipeline uses (dedup before the
    # expensive UDF stages, so duplicates never pay NER cost).
    if "dedup" in want or (
        docs_consumer and cat.committed_batches("documents_deduped")
    ):
        from .stages.canonical import (
            connected_components,
            lsh_candidate_pairs,
            minhash_signatures,
            signature_similarity_filter,
        )

        docs = docs if docs is not None else need("documents", "dedup")

        def dedup():
            # materialize once: the corpus-wide MinHash aggregate fans
            # out to ~5 consumers (band self-join sides, bucket counts,
            # both similarity-filter sides) and Catalyst does not dedupe
            # the logical subtrees (CLAUDE.md shared-aggregate rule)
            sigs = minhash_signatures(
                docs, id_col="doc_id", name_col="text"
            ).localCheckpoint()
            # LSH emits CANDIDATES (band collisions); verify with the
            # MinHash-agreement estimate before clustering — without the
            # filter, same-vocabulary pages chain into mega-components
            # and dedup drops distinct documents
            cand = lsh_candidate_pairs(sigs, id_col="doc_id")
            pairs = signature_similarity_filter(
                cand, sigs, id_col="doc_id", min_agreement=0.9
            ).select("src", "dst")
            comp = connected_components(pairs)
            dupes = comp.filter(F.col("component") < F.col("node")).select(
                F.col("node").alias("doc_id")
            )
            return docs.join(dupes, "doc_id", "left_anti")

        docs = commit("documents_deduped", dedup, lineage("dedup", [docs_stage]))
        docs_stage = "documents_deduped"

    if "sentences" in want:
        # the sticky blocks above always set `docs` when a curated
        # table exists (docs_consumer includes "sentences"), so the
        # only fallback is the raw documents stage
        docs = docs if docs is not None else need("documents", "sentences")
        sents = commit(
            "sentences",
            lambda: split_documents(docs),
            lineage("sentences", [docs_stage]),
        )
    # NOTE: conflict resolution (J3) applies to MULTI-run merges only
    # (reference: entity_merger2.py post-processes merged class runs);
    # the single dict run keeps nested/overlapping matches exactly like
    # PhraseMatcher (ner_spacy.py:144-155) — resolving here would break
    # mention-exact parity with the oracle.
    if "mentions" in want:
        sents = sents if sents is not None else need("sentences", "mentions")

        def ner():
            m = dict_ner(sents, gazetteer)
            return resolve_conflicts(m) if resolve_single_run_conflicts else m

        mentions = commit(
            "mentions",
            ner,
            lineage(
                "mentions", ["sentences"], gazetteer=gazetteer,
                resolve_conflicts=resolve_single_run_conflicts,
            ),
        )

    if "linked" in want:
        mentions = mentions if mentions is not None else need("mentions", "linked")
        linked_pair: list = []

        def link():
            lookup = spark.createDataFrame(
                [{"entity": e, "id": i, "name": n} for e, i, n in nel_lookup]
            )
            linked_pair.extend(link_entities(mentions, lookup))
            return linked_pair[0]

        # linked and the minted dimension come from one link_entities
        # call, so they share one signature and skip together
        sig = lineage("linked", ["mentions"], lookup=nel_lookup)
        linked = commit("linked", link, sig, peers=("nel_new_entities",))
        # U1: merge the minted dimension back (idempotent upsert analog)
        # allow_empty: once every surface resolves against the lookup,
        # the minted dimension legitimately shrinks to zero rows — the
        # re-run must retract the stale mints, not keep serving them
        # (when this builder runs, the linked commit above has run too:
        # both check the same pair of signatures)
        commit(
            "nel_new_entities",
            lambda: linked_pair[1].withColumn("batch_id", F.lit(0)),
            sig,
            allow_empty=True,
            peers=("linked",),
        )
    elif {"canonical", "triples", "analysis"} & want:
        linked = need("linked", "canonical/triples/analysis")

    if linked is not None and use_canon:

        def canonical():
            ents = linked.select(
                F.col("ent_id"), F.col("ent_name").alias("name")
            ).distinct()
            return canonicalize_entities(ents).withColumn("batch_id", F.lit(0))

        canon = commit("canonical", canonical, lineage("canonical", ["linked"]))
        linked = linked.join(
            F.broadcast(canon.drop("batch_id")), "ent_id", "left"
        ).withColumn("canon_id", F.coalesce("canon_id", "ent_id"))
    elif linked is not None:
        linked = linked.withColumn("canon_id", F.col("ent_id"))
    # the stages that read the canon_id-extended linked frame
    linked_inputs = ["linked", "canonical"] if use_canon else ["linked"]

    if "triples" in want:
        sents = sents if sents is not None else need("sentences", "triples")
        commit(
            "triples",
            lambda: cooccurrence_triples(
                linked, sents, max_mentions_per_sentence=triples_cap
            ),
            lineage(
                "triples", [*linked_inputs, "sentences"],
                triples_cap=triples_cap, canonicalize=use_canon,
            ),
        )

    if "graph" in want and not cat.committed_batches("triples") and "triples" in want:
        # the triples stage ran in THIS invocation and produced zero
        # rows (empty corpus / no co-occurrences) — an empty graph is a
        # report note, not a "run --stages triples first" error
        report["graph"] = {"skipped": "triples stage committed no rows"}
    elif "graph" in want:
        # north-star output: the queryable graph tables, partitioned by
        # a stable hash of the node key (same batch_id discipline as
        # every other stage — co-partitioned for neighbor expansion)
        from .ops.graph import pagerank

        tri = need("triples", "graph")
        sig = lineage("graph", ["triples"], n_batches=n_batches)

        def bkey(c: str):
            return F.pmod(F.xxhash64(F.col(c)), F.lit(n_batches)).cast("int")

        def edges():
            return (
                tri.groupBy("subj", "pred", "obj")
                .agg(
                    F.count("*").alias("weight"),
                    F.countDistinct("doc_id").alias("n_docs"),
                )
                .withColumn("batch_id", bkey("subj"))
            )

        def nodes():
            outd = tri.groupBy(F.col("subj").alias("node")).agg(
                F.count("*").alias("out_degree")
            )
            ind = tri.groupBy(F.col("obj").alias("node")).agg(
                F.count("*").alias("in_degree")
            )
            return (
                outd.join(ind, "node", "full")
                .select(
                    "node",
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
                )
                .withColumn("batch_id", bkey("node"))
            )

        def ranks():
            pr = pagerank(
                tri.select(F.col("subj").alias("src"), F.col("obj").alias("dst")).filter(
                    F.col("src") != F.col("dst")
                ),
                iterations=5,
            )
            return pr.withColumn("batch_id", bkey("node"))

        commit("graph_edges", edges, sig)
        commit("graph_nodes", nodes, sig)
        commit("graph_pagerank", ranks, sig)

    if "analysis" in want:
        mentions = mentions if mentions is not None else need("mentions", "analysis")
        flags = {"sets": analysis_sets, "approx": analysis_approx}
        # production default with_sets=False: never build per-surface
        # doc_id arrays (unbounded for stopword-like surfaces at web
        # scale); counts stay exact. The contract/test path opts back in
        # via analysis_sets=True. Aggregate tables: one logical partition.
        commit(
            "entity_frequency",
            lambda: entity_frequency(
                mentions, with_sets=analysis_sets, approx_distinct=analysis_approx
            ).withColumn("batch_id", F.lit(0)).drop("batch_count"),
            lineage("analysis", ["mentions"], **flags),
        )
        commit(
            "id_frequency",
            lambda: id_frequency(
                linked, with_sets=analysis_sets, approx_distinct=analysis_approx
            ).withColumn("batch_id", F.lit(0)).drop("batch_count"),
            lineage("analysis", linked_inputs, **flags),
        )

    # manifest-side total: the commit already counted every partition,
    # so a read-back count job would only re-scan the same parquet
    if cat.committed_batches("triples"):
        triples_total = sum(c["rows"] for c in cat.counters("triples").values())
    else:
        triples_total = None
    report["_totals"] = {
        "triples": triples_total,
        "stages": sorted(report.keys()),
    }
    return report


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="pages parquet path (default: synthetic)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--n-batches", type=int, default=64)
    ap.add_argument("--no-canonical", action="store_true")
    ap.add_argument(
        "--stages",
        default=None,
        help="comma-separated subset of stages to run (the reference's "
        "config 'ignore' map, inverted; e.g. --stages mentions,linked "
        "re-runs NER+NEL over checkpointed sentences; 'graph' "
        "materializes graph_nodes/graph_edges/graph_pagerank from "
        f"committed triples). Stages: {', '.join(STAGES)}",
    )
    ap.add_argument(
        "--triples-cap",
        type=int,
        default=None,
        help="opt-in per-sentence mention cap for entity-stuffed pages "
        "(default None = exact pairing, matches the sequential oracle)",
    )
    ap.add_argument(
        "--analysis-sets",
        action="store_true",
        help="emit the reference's articles_set column (bounded/test "
        "corpora only — unbounded per-surface arrays at web scale)",
    )
    ap.add_argument(
        "--screen",
        action="store_true",
        help="opt-in PII screen between documents and sentences: scrub "
        "email/ipv4/ssn/phone matches in place (ops/curation.py) and "
        "commit the screened table; downstream stages consume it",
    )
    ap.add_argument(
        "--dedup-docs",
        action="store_true",
        help="opt-in near-dup document dedup before sentence splitting: "
        "MinHash-LSH pairs -> connected components, keep each "
        "component's canonical (min doc_id) member; commits "
        "documents_deduped and downstream stages consume it",
    )
    ap.add_argument(
        "--analysis-approx",
        action="store_true",
        help="articles_spanned via HyperLogLog++ instead of exact "
        "countDistinct (the 10^12-row mode; incompatible with "
        "--analysis-sets)",
    )
    args = ap.parse_args(argv)
    stages = set(args.stages.split(",")) if args.stages else None
    for flag, stage in ((args.screen, "screen"), (args.dedup_docs, "dedup")):
        if flag:
            stages = (stages or set(DEFAULT_STAGES)) | {stage}
    # fail on a misspelt stage before paying for a Spark session
    check_stages(stages or ())

    from .session import get_spark

    spark = get_spark(app_name="easyner_pipeline")
    pages = (
        spark.read.parquet(args.input)
        if args.input
        else pages_df(spark, n_docs=args.n_docs)
    )
    report = run_pipeline(
        spark,
        pages,
        args.warehouse,
        n_batches=args.n_batches,
        canonicalize=not args.no_canonical,
        stages=stages,
        analysis_sets=args.analysis_sets,
        analysis_approx=args.analysis_approx,
        triples_cap=args.triples_cap,
    )
    print(json.dumps(report, indent=2, default=str))


if __name__ == "__main__":
    main()
