"""The benchmark workloads.

Each workload class has the same shape:

* ``setup(seed)``: build the inputs from the seed and warm the session
  up (counted in ``setup_s``);
* ``run_pass(tag)``: one timed pass; returns its measurements;
* ``trace_hooks()``: context manager that wraps the engine's public
  functions in spans for a traced pass;
* ``check(passes)``: correctness gates, run outside all timing; returns
  (attempted, failures);
* ``e2e(passes)`` / ``layers(jobs, tag, traced_pass)``: the reported
  metrics.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from collections import Counter
from statistics import median

import inputs
from harness import CORES, Bench, du_bytes, fingerprint, has_part, layer_totals


@contextlib.contextmanager
def _patched(b: Bench, targets):
    """Temporarily replace ``module.attr`` by a wrapper that runs the
    original inside ``b.span(span_name)``. ``targets`` is a list of
    (module_or_class, attr, span_name)."""
    saved = []
    for owner, attr, span_name in targets:
        orig = getattr(owner, attr)

        def wrapper(*a, __orig=orig, __span=span_name, **kw):
            with b.span(__span):
                return __orig(*a, **kw)

        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _layer_metrics(jobs, tag: str, layers) -> dict:
    """busy_s / jobs / udf_s / shuffle_bytes of each layer over the jobs
    of the pass tagged ``tag``."""
    mine = [j for j in jobs if j.span.split("/")[0] == tag]
    out = {}
    for layer in layers:
        t = layer_totals(mine, has_part(layer))
        for m in LAYER_STATS:
            out[f"{layer}.{m}"] = t[m]
    return out


def triples_gate(got: Counter, want: Counter) -> list[str]:
    """Triples as a multiset of (subj, pred, obj, url, sent_idx) must equal
    the sequential oracle's: P = R = 1.0, duplicates included."""
    if got == want:
        return []
    return [
        f"build triples: {sum((got - want).values())} extra, "
        f"{sum((want - got).values())} missing"
    ]


# ---------------------------------------------------------------------------
# kg_checkpointed
# ---------------------------------------------------------------------------

# catalog stage -> engine layer that produces it
STAGE_LAYER = {
    "documents": "extract",
    "sentences": "split",
    "mentions": "ner",
    "linked": "nel",
    "nel_new_entities": "nel",
    "triples": "triples",
    "entity_frequency": "analysis",
    "id_frequency": "analysis",
}
KG_LAYERS = ("extract", "split", "ner", "nel", "triples", "analysis")
LAYER_STATS = ("busy_s", "jobs", "udf_s", "shuffle_bytes")


class KgCheckpointed:
    """Open-vocabulary pages through ``pipeline.run_pipeline`` into a fresh
    warehouse (the build), then the same call on the committed warehouse
    (the resume). One pass is build + resume."""

    name = "kg_checkpointed"
    N_DOCS = 1500
    N_TERMS = 3000
    N_BATCHES = 8
    WARM_DOCS = 60
    oracle_s = 0.0  # the oracle runs in check(), after all timing
    STAGES = {"documents", "sentences", "mentions", "linked", "triples", "analysis"}

    def __init__(self, b: Bench):
        self.b = b
        self.stats = Counter()

    def _pages(self, pdf):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("url", T.StringType(), False),
                T.StructField("warc_ts", T.TimestampType(), False),
                T.StructField("html", T.BinaryType(), True),
                T.StructField("text", T.StringType(), True),
                T.StructField("lang", T.StringType(), True),
            ]
        )
        return self.b.spark.createDataFrame(pdf, schema=schema).repartition(
            2 * CORES, "url"
        )

    def _run_pipeline(self, pages, wh: str) -> dict:
        from easyner_spark.pipeline import run_pipeline

        return run_pipeline(self.b.spark, pages, wh, gazetteer=self.gaz, nel_lookup=self.lookup,
                            n_batches=self.N_BATCHES, stages=self.STAGES)

    def _build_and_resume(self, pages, wh: str) -> dict:
        from easyner_spark.io.catalog import CheckpointCatalog

        t0 = time.perf_counter()
        with self.b.span("build"):
            report = self._run_pipeline(pages, wh)
        t1 = time.perf_counter()
        cat = CheckpointCatalog(wh)
        built = {s: cat.counters(s) for s in STAGE_LAYER}
        t2 = time.perf_counter()
        with self.b.span("resume"):
            self._run_pipeline(pages, wh)
        t3 = time.perf_counter()
        resumed = {s: cat.counters(s) for s in STAGE_LAYER}
        return {
            "build_s": t1 - t0,
            "resume_s": t3 - t2,
            "wall_s": (t1 - t0) + (t3 - t2),
            "triples": report["_totals"]["triples"],
            "docs": sum(c["rows"] for c in built["documents"].values()),
            "counters_build": built,
            "counters_resume": resumed,
            "stored_bytes": du_bytes(wh),
            "wh": wh,
        }

    def setup(self, seed: int) -> None:
        self.gaz, self.lookup = inputs.open_vocab(seed, self.N_TERMS)
        self.pdf = inputs.open_pages(seed, self.N_DOCS, self.gaz)
        self.pages = self._pages(self.pdf).persist()
        self.pages.count()
        # warm-up: one build over a small page set, so Python workers, code
        # generation and the first JIT of every stage and of the catalog's
        # commit path are paid here. The build computes the same content
        # counters a resume verifies with; a warm-up resume added ~7 s per
        # run and did not make the first timed resume measurably faster
        # (README "Budget").
        warm = self._pages(inputs.open_pages(seed + 1, self.WARM_DOCS, self.gaz))
        wh = os.path.join(self.b.run_dir, "wh-warm")
        with self.b.span("warm"):
            self._run_pipeline(warm, wh)
        shutil.rmtree(wh, ignore_errors=True)

    def run_pass(self, tag: str) -> dict:
        wh = os.path.join(self.b.run_dir, f"wh-{tag}")
        with self.b.span(tag):
            return self._build_and_resume(self.pages, wh)

    def trace_hooks(self):
        import easyner_spark.io.catalog as catalog_mod
        import easyner_spark.pipeline as pipeline_mod
        from easyner_spark.io.catalog import CheckpointCatalog

        b, stats = self.b, self.stats
        orig_write = CheckpointCatalog.write_stage
        orig_counters = catalog_mod._content_counters

        def write_stage(cat, df, stage, *a, **kw):
            # with committed batches, the first counters pass inside
            # write_stage verifies them (resume_mode="verify_counts")
            stats["verifying"] = int(bool(cat.committed_batches(stage)))
            with b.span(STAGE_LAYER.get(stage, "other")), b.span("catalog.write"):
                snap = orig_write(cat, df, stage, *a, **kw)
            stats["batches_committed"] += len(snap.get("counters", {}))
            return snap

        def content_counters(df, partition_col):
            with b.span("catalog.counters"):
                out = orig_counters(df, partition_col)
            stats["batches_recomputed"] += len(out)
            if stats["verifying"]:
                stats["batches_verified"] += len(out)
                stats["verifying"] = 0
            return out

        @contextlib.contextmanager
        def hooks():
            stats.clear()
            saved = (CheckpointCatalog.write_stage, catalog_mod._content_counters)
            CheckpointCatalog.write_stage = write_stage
            catalog_mod._content_counters = content_counters
            try:
                with _patched(
                    b,
                    [
                        (CheckpointCatalog, "read_stage", "catalog.read"),
                        (pipeline_mod, "link_entities", "nel"),
                    ],
                ):
                    yield
            finally:
                CheckpointCatalog.write_stage, catalog_mod._content_counters = saved

        return hooks()

    def check(self, passes: list[dict]) -> tuple[int, list[str]]:
        """Build: triples and the entity-frequency ranking equal the
        sequential oracle's. Resume: every stage's catalog counters equal
        those after the build."""
        from easyner_spark.io.catalog import CheckpointCatalog
        from easyner_spark.oracle.pyoracle import run_oracle

        oracle = run_oracle(self.pdf, self.gaz, self.lookup)
        want_triples = Counter(oracle["triple_list"])
        want_rank = sorted(oracle["surface_counts"].items(), key=lambda kv: (-kv[1], kv[0]))
        self.input_bytes = sum(len(d["text"].encode()) for d in oracle["documents"].values())
        spark = self.b.spark
        failures = []
        for p in passes:
            cat = CheckpointCatalog(p["wh"])
            p["chars_out"] = (
                cat.read_stage(spark, "documents").selectExpr("sum(length(text))").first()[0]
            )
            url_of = cat.read_stage(spark, "documents").select("doc_id", "url")
            got = Counter(
                (r["subj"], r["pred"], r["obj"], r["url"], r["sent_idx"])
                for r in cat.read_stage(spark, "triples").join(url_of, "doc_id").collect()
            )
            failures += triples_gate(got, want_triples)
            freq = cat.read_stage(spark, "entity_frequency").collect()
            rank = sorted(
                ((r["surface"], r["total_count"]) for r in freq), key=lambda kv: (-kv[1], kv[0])
            )
            if rank != want_rank:
                failures.append("build entity-frequency ranking differs from the oracle")
            if p["counters_resume"] != p["counters_build"]:
                bad = [s for s in STAGE_LAYER if p["counters_resume"][s] != p["counters_build"][s]]
                failures.append(f"resume changed catalog counters of {bad}")
        return 2 * len(passes), failures

    def e2e(self, passes: list[dict]) -> dict:
        return {
            "wall_s": median([p["wall_s"] for p in passes]),
            "docs_per_s": median([p["docs"] / p["wall_s"] for p in passes]),
            "triples_per_s": median([p["triples"] / p["wall_s"] for p in passes]),
        }

    def layers(self, jobs, tag: str, p: dict) -> dict:
        out = _layer_metrics(jobs, tag, KG_LAYERS)
        rows = {s: sum(c["rows"] for c in p["counters_build"][s].values()) for s in STAGE_LAYER}
        out["extract.rows_out"] = rows["documents"]
        out["extract.chars_out"] = p["chars_out"]
        out["split.rows_out"] = rows["sentences"]
        out["ner.rows_out"] = rows["mentions"]
        out["triples.rows_out"] = rows["triples"]
        out["nel.miss_surfaces"] = rows["nel_new_entities"]
        out["build_s"] = p["build_s"]
        out["resume_s"] = p["resume_s"]
        out["stored_bytes_per_input_byte"] = p["stored_bytes"] / self.input_bytes
        prefix = tag + "/"
        out["catalog.write_s"] = self.b.span_seconds(prefix, "catalog.write")
        out["catalog.counters_s"] = self.b.span_seconds(prefix, "catalog.counters")
        out["catalog.read_s"] = self.b.span_seconds(prefix, "catalog.read")
        out["catalog.bytes_written"] = p["stored_bytes"]
        for k in ("batches_committed", "batches_verified", "batches_recomputed"):
            out[f"catalog.{k}"] = self.stats[k]
        return out


# ---------------------------------------------------------------------------
# contract_queries
# ---------------------------------------------------------------------------

# registered contract queries: two consumers of the queries.linked() block
# (triples, and the ops/graph PageRank row), two of the shingles() block
# (contamination, and the near-dup clusters that stages.canonical's connected
# components draw over the MinHash pairs), and relational controls that touch
# neither. Each family is a sample of its registry consumers, sized so that a
# run fits the regression budget.
QUERY_NAMES = (
    "kg_triples",
    "kg_graph_pagerank",
    "corpus_contamination",
    "dedup_components",
    "tpch_pricing_summary",
    "events_sessionize",
)


class ContractQueries:
    """A fixed list of registered contract queries over seeded driver
    tables. Each query is timed from the call that builds its DataFrame
    (builders run eager localCheckpoint jobs) to the end of the action
    that materializes every column of the result."""

    name = "contract_queries"
    N_DOCS = 2000
    N_EVENTS = 20000

    def __init__(self, b: Bench):
        self.b = b
        self.ref: dict[str, tuple] = {}
        self.oracle_failures: list[str] = []

    def setup(self, seed: int) -> None:
        from easyner_spark.compare import compare_query
        from easyner_spark.queries import ORACLES, QUERIES

        self.dir = os.path.join(self.b.run_dir, "tables")
        inputs.write_tables(seed, self.dir, self.N_DOCS, self.N_EVENTS)
        # warm-up: every query runs once, checked cell-exact against its
        # DuckDB oracle; the fingerprint of that checked result is the
        # reference every timed pass must reproduce. Only the Spark side
        # of this pass is set-up time.
        self.oracle_s = 0.0
        for name in QUERY_NAMES:
            held = {}

            def build(spark, sf_dir, _q=QUERIES[name]):
                t0 = time.perf_counter()
                held["df"] = _q(spark, sf_dir).localCheckpoint()
                held["spark_s"] = time.perf_counter() - t0
                return held["df"]

            t0 = time.perf_counter()
            diff = compare_query(self.b.spark, self.dir, name, build, ORACLES[name])
            self.oracle_s += time.perf_counter() - t0 - held["spark_s"]
            if diff is not None:
                self.oracle_failures.append(diff)
            self.ref[name] = fingerprint(held["df"])
            held["df"].unpersist()

    def run_pass(self, tag: str) -> dict:
        from easyner_spark.queries import QUERIES

        b = self.b
        out = {"build_s": {}, "exec_s": {}, "fp": {}}
        with b.span(tag):
            for name in QUERY_NAMES:
                with b.span(f"q:{name}"):
                    t0 = time.perf_counter()
                    with b.span("build"):
                        df = QUERIES[name](b.spark, self.dir)
                    t1 = time.perf_counter()
                    with b.span("exec"):
                        out["fp"][name] = fingerprint(df)
                    t2 = time.perf_counter()
                out["build_s"][name] = t1 - t0
                out["exec_s"][name] = t2 - t1
        out["wall_s"] = sum(out["build_s"].values()) + sum(out["exec_s"].values())
        return out

    def trace_hooks(self):
        import easyner_spark.ops.graph as graph_mod
        import easyner_spark.queries as queries_mod
        import easyner_spark.stages.canonical as canonical_mod
        import easyner_spark.stages.nel as nel_mod

        graph_fns = [
            (graph_mod, n, "graph")
            for n, f in vars(graph_mod).items()
            if callable(f) and not n.startswith("_") and getattr(f, "__module__", "") == graph_mod.__name__
        ]
        return _patched(
            self.b,
            [
                (queries_mod, "linked", "linked"),
                (queries_mod, "shingles", "shingles"),
                (nel_mod, "link_entities", "nel"),
                (canonical_mod, "connected_components", "canonical"),
            ]
            + graph_fns,
        )

    def check(self, passes: list[dict]) -> tuple[int, list[str]]:
        failures = list(self.oracle_failures)
        for i, p in enumerate(passes):
            for name in QUERY_NAMES:
                if p["fp"][name] != self.ref[name]:
                    failures.append(f"{name}: pass {i} result differs from the oracle-checked result")
        return len(QUERY_NAMES) * (1 + len(passes)), failures

    def e2e(self, passes: list[dict]) -> dict:
        wall = median([p["wall_s"] for p in passes])
        return {
            "wall_s": wall,
            "docs_per_s": self.N_DOCS / wall,
            "triples_per_s": self.ref["kg_triples"][0] / wall,
        }

    def layers(self, jobs, tag: str, p: dict) -> dict:
        out = _layer_metrics(jobs, tag, ("nel", "graph", "canonical"))
        mine = [j for j in jobs if j.span.split("/")[0] == tag]
        for name in QUERY_NAMES:
            out[f"query.{name}.build_s"] = p["build_s"][name]
            out[f"query.{name}.exec_s"] = p["exec_s"][name]
            out[f"query.{name}.jobs"] = layer_totals(mine, has_part(f"q:{name}"))["jobs"]
        q = layer_totals(mine, lambda s: "/q:" in s)
        out["queries.build_s"] = sum(p["build_s"].values())
        out["queries.exec_s"] = sum(p["exec_s"].values())
        out["queries.jobs"] = q["jobs"]
        out["queries.shuffle_bytes"] = q["shuffle_bytes"]
        return out


WORKLOADS = {w.name: w for w in (KgCheckpointed, ContractQueries)}
