#!/usr/bin/env python3
"""Spark jobs and wall time per part of a warm golden linkres.resolve() call.

    python3 scripts/linkres_jobs.py --runs 3
    python3 scripts/linkres_jobs.py --root <other checkout> --runs 3

Builds the q_linkres_golden inputs (the FIXTURES.md §5 elements and the
synthetic wikidata dims, disambig outlinks included), takes one untimed
warm-up call, then times each call of resolve(elements, dims) followed by
a collect of its rows, split into four parts:

  closure  closure.p279_closure, wherever build_qid_facts calls it
  facts    the rest of build_qid_facts, plus resolve()'s materialization
           of the facts (a localCheckpoint of the facts frame, wherever
           that runs) and its count for the broadcast size gate
  build    the rest of resolve(): building the report DataFrame
  collect  its collect (physical planning included)

It prints one JSON line per run (seconds, Spark jobs and py4j commands
per part, and whether the (element_id, error_id) rows equal the golden
expectation), then one line of medians. A part's jobs are the ones its own
job group holds (SparkContext.statusTracker); its py4j commands are the
ones this thread sends while the part runs (driver_split.count_py4j_calls;
switching the job group is not counted). The parts are found by wrapping
the two functions and the facts frame's localCheckpoint and count for the
length of the call, so the split needs no hook in the library, and a
parent checkout is measured the same way. --root measures another source
checkout (for a parent/change comparison, interleave the two): the script
chdirs there before starting Spark, so Spark's Python workers import the
measured package. Runs on local[N], N = the usable cores; the cache is
cleared before every call.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from driver_split import count_py4j_calls

PARTS = ("closure", "facts", "build", "collect")


def golden_inputs(spark):
    from wikibrain_spark.operators import linkres
    from wikibrain_spark.sources import synthetic

    d = synthetic.generate_wikidata_dim()
    dims = linkres.WikiDims(
        wikidata=spark.createDataFrame(
            d["wikidata"], "qid string, label_en string, sitelinks map<string,string>, lat double, lon double"
        ),
        claims=spark.createDataFrame(
            d["wikidata_claims"],
            "qid string, pid string, value_str string, value_qid string, "
            "value_lat double, value_lon double, qualifier_pids array<string>",
        ),
        pages=spark.createDataFrame(d["wikipedia_pages"], "lang string, title string, qid string"),
        page_redirects=spark.createDataFrame(
            d["wikipedia_redirects"], "lang string, from_title string, to_title string"
        ),
        qid_redirects=spark.createDataFrame(d["wikidata_redirects"], "from_qid string, to_qid string"),
        edges=spark.createDataFrame(d["ontology_edges"], "child_qid string, parent_qid string, pid string"),
        disambig_links=spark.createDataFrame(
            d["disambig_links"], "lang string, title string, out_title string, ns int"
        ),
    )
    rows = synthetic.generate_test_elements()
    elements = spark.createDataFrame(
        rows.drop(columns="expected_error_id"),
        "element_id long, object_type string, tags map<string,string>, lat double, lon double",
    )
    want = {(int(r.element_id), r.expected_error_id) for r in rows.itertuples()
            if r.expected_error_id not in (None, "FILTERED")}
    return elements, dims, want


class Parts:
    """Switches the job group between parts and sums each part's seconds
    and py4j commands (`calls`: a count_py4j_calls namespace)."""

    def __init__(self, sc, run: int, calls):
        self.sc, self.calls, self.part, self.t, self.mark = sc, calls, None, None, 0
        self.group = {p: f"linkres_jobs-{run}-{p}" for p in PARTS}
        self.secs = dict.fromkeys(PARTS, 0.0)
        self.py4j = dict.fromkeys(PARTS, 0)

    def switch(self, part: str | None) -> str | None:
        now, prev = time.perf_counter(), self.part
        if prev is not None:
            self.secs[prev] += now - self.t
            self.py4j[prev] += self.calls.n - self.mark
        self.part, self.t = part, now
        if part is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.group[part], part)
        self.mark = self.calls.n
        return prev

    def within(self, part: str, fn, *args, **kwargs):
        prev = self.switch(part)
        try:
            return fn(*args, **kwargs)
        finally:
            self.switch(prev)

    def jobs(self, part: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group[part]))


def one_run(spark, elements, dims, want, run: int) -> dict:
    from wikibrain_spark.operators import closure, linkres

    spark.catalog.clearCache()
    frame = type(elements)  # the session's concrete DataFrame class
    closure_fn, facts_fn = closure.p279_closure, linkres.build_qid_facts
    checkpoint_fn, count_fn = frame.localCheckpoint, frame.count
    facts = []  # the facts frame and the frames materialized from it

    def build_qid_facts(*a, **k):
        facts.append(parts.within("facts", facts_fn, *a, **k))
        return facts[-1]

    def local_checkpoint(df, *a, **k):
        if not (facts and df is facts[-1]):
            return checkpoint_fn(df, *a, **k)
        facts.append(parts.within("facts", checkpoint_fn, df, *a, **k))
        return facts[-1]

    def count(df):
        return parts.within("facts", count_fn, df) if facts and df is facts[-1] else count_fn(df)

    with count_py4j_calls() as calls:
        parts = Parts(spark.sparkContext, run, calls)
        closure.p279_closure = lambda *a, **k: parts.within("closure", closure_fn, *a, **k)
        linkres.build_qid_facts = build_qid_facts
        frame.localCheckpoint, frame.count = local_checkpoint, count
        try:
            parts.switch("build")
            out = linkres.resolve(elements, dims)
            parts.switch("collect")
            rows = out.select("element_id", "error_id").collect()
            parts.switch(None)
        finally:
            closure.p279_closure, linkres.build_qid_facts = closure_fn, facts_fn
            frame.localCheckpoint, frame.count = checkpoint_fn, count_fn
    rec = {f"{p}_s": round(parts.secs[p], 4) for p in PARTS}
    rec.update({f"{p}_jobs": parts.jobs(p) for p in PARTS})
    rec.update({f"{p}_py4j": parts.py4j[p] for p in PARTS})
    rec["total_s"] = round(sum(parts.secs.values()), 4)
    rec["total_jobs"] = sum(rec[f"{p}_jobs"] for p in PARTS)
    rec["total_py4j"] = sum(parts.py4j.values())
    rec["correct"] = {(r["element_id"], r["error_id"]) for r in rows} == want
    return rec


def main(argv=None) -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--root", default=here, help="source checkout to measure")
    args = ap.parse_args(argv)
    root = os.path.abspath(args.root)
    sys.path.insert(0, root)
    # Python workers put their cwd ahead of PYTHONPATH
    os.chdir(root)
    from wikibrain_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("linkres_jobs", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        elements, dims, want = golden_inputs(spark)
        warm = one_run(spark, elements, dims, want, -1)["correct"]
        runs = []
        for i in range(args.runs):
            rec = one_run(spark, elements, dims, want, i)
            runs.append(rec)
            print(json.dumps({"run": i, **rec}), flush=True)
        keys = [f"{p}_{u}" for u in ("s", "jobs", "py4j") for p in PARTS]
        keys += ["total_s", "total_jobs", "total_py4j"]
        median = {k: round(statistics.median(r[k] for r in runs), 4) for k in keys}
        print(json.dumps({"root": root, "warmup_correct": warm,
                          "all_correct": all(r["correct"] for r in runs), "median": median}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
