"""Self-test of the benchmark's correctness gates.

    python3 perfbench/selftest.py

Shows on a small input that the gates catch one dropped triple and one
altered query row. Starts one local Spark session (about a minute).
"""

from __future__ import annotations

import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402


def check_triples_gate(b: harness.Bench) -> None:
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.oracle.pyoracle import run_oracle

    kg = workloads.KgCheckpointed(b)
    gaz, lookup = inputs.open_vocab(5, 300)
    kg.gaz, kg.lookup = gaz, lookup
    pdf = inputs.open_pages(5, 40, gaz)
    wh = os.path.join(b.run_dir, "wh")
    kg._run_pipeline(kg._pages(pdf), wh)
    cat = CheckpointCatalog(wh)
    url_of = cat.read_stage(b.spark, "documents").select("doc_id", "url")
    got = Counter(
        (r["subj"], r["pred"], r["obj"], r["url"], r["sent_idx"])
        for r in cat.read_stage(b.spark, "triples").join(url_of, "doc_id").collect()
    )
    want = Counter(run_oracle(pdf, gaz, lookup)["triple_list"])
    assert workloads.triples_gate(got, want) == [], "engine triples differ from the oracle"
    dropped = got - Counter([next(iter(got))])
    assert workloads.triples_gate(dropped, want), "one dropped triple went unnoticed"


def check_query_gates(b: harness.Bench) -> None:
    from pyspark.sql import functions as F

    from easyner_spark.compare import compare_query
    from easyner_spark.queries import ORACLES, QUERIES

    d = os.path.join(b.run_dir, "tables")
    inputs.write_tables(5, d, 200, 2000)
    name = "tpch_pricing_summary"

    def altered(spark, sf_dir):
        df = QUERIES[name](spark, sf_dir)
        one = (F.col("l_returnflag") == "A") & (F.col("l_linestatus") == "F")
        return df.withColumn(
            "count_order", F.when(one, F.col("count_order") + 1).otherwise(F.col("count_order"))
        )

    assert compare_query(b.spark, d, name, QUERIES[name], ORACLES[name]) is None
    assert compare_query(b.spark, d, name, altered, ORACLES[name]) is not None, (
        "the oracle missed one altered row"
    )
    fp = harness.fingerprint(QUERIES[name](b.spark, d))
    assert fp == harness.fingerprint(QUERIES[name](b.spark, d)), "fingerprint is not stable"
    assert fp != harness.fingerprint(altered(b.spark, d)), "the fingerprint missed one altered row"


def main() -> int:
    b = harness.Bench(root=ROOT, run_dir=os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}"),
                      traced=False)
    try:
        b.start()
        check_triples_gate(b)
        print("dropped triple caught: ok")
        check_query_gates(b)
        print("altered query row caught: ok")
    finally:
        b.stop()
        b.cleanup()
    return 0


if __name__ == "__main__":
    sys.exit(main())
