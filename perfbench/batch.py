"""Offline curation jobs of the query registry, run by the ``curate``
workload beside its writes.

A batch pass runs each job of ``JOBS`` once. A job is built through
``plans.queries.QUERIES`` and collected (the noop sink of a batch
job). The jobs read the first ``N_DOCS`` documents of the corpus
in ``data.py``. Each job's rows must hash (order-insensitively) to the
value in ``expected.json``, recorded on that fixed corpus.

With tracing on, ``connected_components`` is wrapped: the pair list it
receives is materialized first under ``dedup.pairs`` (its row count is
``dedup.pairs``), then the components run under ``cluster.cc`` in a
job sub-group whose job count is ``cluster.jobs``.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import defaultdict

import movievectorsearch_spark.operators.cluster as cluster
from data import write_corpus
from movievectorsearch_spark.plans.queries import QUERIES
from spans import median

# n-gram Jaccard pairs + connected components, and two Arrow
# Python-worker kernels. corpus_release_report (pairs + CC again) and
# unigram_lm_em_round (another Arrow kernel) repeat these layers at about
# 10 s and 8 s a run, which the run budget has no room for.
JOBS = (
    "dedup_end_to_end",
    "winnow_dup_pairs",
    "dsir_importance_topk",
)
N_DOCS = 500
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def row_hash(rows) -> str:
    """Order-insensitive hash of collected rows."""
    return hashlib.sha256(repr(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


class Jobs:
    def __init__(self, bench):
        self.b = bench
        self.sf = os.path.join(bench.tmp, "jobs", "sf")
        write_corpus(self.sf, N_DOCS)
        with open(EXPECTED) as f:
            self.expected = json.load(f)
        self.counts = defaultdict(list)

    def instrument(self) -> None:
        tracer, counts, sc = self.b.tracer, self.counts, self.b.spark.sparkContext
        cc = cluster.connected_components

        def traced_cc(pairs, *a, **kw):
            with tracer.span("dedup.pairs"):
                pairs = pairs.localCheckpoint(eager=True)
            counts["pairs"].append(pairs.count())
            group = sc.getLocalProperty("spark.jobGroup.id") + "/cc"
            with tracer.job_group(group), tracer.span("cluster.cc"):
                out = cc(pairs, *a, **kw)
            counts["cc_jobs"].append(tracer.group_counts[group]["jobs"])
            return out

        cluster.connected_components = traced_cc

    def job(self, name: str, rid: str) -> None:
        spark, tracer = self.b.spark, self.b.tracer

        def do():
            with tracer.span(f"queries.build.{name}"):
                df = QUERIES[name]["spark"](spark, self.sf)
            with tracer.span(f"queries.exec.{name}"):
                return df.collect()

        def check(rows):
            got = row_hash(rows)
            return None if got == self.expected[name] else (
                f"{name}: row hash {got} != expected {self.expected[name]}")

        self.b.op(("op", "job"), rid, do, check)

    def summary(self) -> dict[str, float]:
        out = {
            "dedup.pairs": median(self.counts["pairs"]),
            "cluster.jobs": median(self.counts["cc_jobs"]),
        }
        if self.b.trace:
            selfs = self.b.tracer.self_times()
            for name in JOBS:
                out[f"queries.build_ms.{name}"] = median(selfs[f"queries.build.{name}"]) * 1000
                out[f"queries.exec_s.{name}"] = median(selfs[f"queries.exec.{name}"])
        return out
