import pytest
from pyspark.sql import functions as F

from wikibrain_spark.operators import closure


def _edges(spark, rows):
    return spark.createDataFrame(rows, "child_qid string, parent_qid string, pid string")


def test_p279_closure_chain(spark):
    e = _edges(spark, [("A", "B", "P279"), ("B", "C", "P279"), ("C", "D", "P279")])
    got = {(r["qid"], r["ancestor"]) for r in closure.p279_closure(e.where("pid='P279'")).collect()}
    assert ("A", "D") in got and ("A", "A") in got and ("B", "D") in got
    assert ("D", "A") not in got


def test_p279_closure_cycle_terminates(spark):
    e = _edges(spark, [("A", "B", "P279"), ("B", "A", "P279")])
    got = {(r["qid"], r["ancestor"]) for r in closure.p279_closure(e).collect()}
    assert got == {("A", "A"), ("A", "B"), ("B", "A"), ("B", "B")}


def test_ignore_list_prunes_traversal(spark):
    # A -> HUB -> Z ; HUB ignored: Z must not become A's ancestor
    e = _edges(spark, [("A", "HUB", "P279"), ("HUB", "Z", "P279")])
    got = {(r["qid"], r["ancestor"]) for r in closure.p279_closure(e, ignored=["HUB"]).collect()}
    assert ("A", "Z") not in got and ("A", "HUB") not in got


def _bfs_min_depths(rows, ignored):
    """Oracle: {(qid, ancestor): min depth} by breadth-first search from
    every node of the edges that touch no ignored qid."""
    parents = {}
    for child, parent, _ in rows:
        if child not in ignored and parent not in ignored:
            parents.setdefault(child, set()).add(parent)
            parents.setdefault(parent, set())
    out = {}
    for start in parents:
        depth, frontier = {start: 0}, [start]
        while frontier:
            nxt = []
            for q in frontier:
                for p in parents[q]:
                    if p not in depth:
                        depth[p] = depth[q] + 1
                        nxt.append(p)
            frontier = nxt
        out.update({(start, a): d for a, d in depth.items()})
    return out


def test_p279_closure_doubling_matches_frontier_loop(spark):
    """Both public entries return exactly the breadth-first oracle's pairs
    and min depths on a mixed topology, and a 20-deep chain converges
    within 6 rounds (ceil(log2 20) + 1)."""
    rows = [(f"C{i}", f"C{i+1}", "P279") for i in range(20)]  # 20-deep chain
    rows += [("X", "Y", "P279"), ("Y", "X", "P279")]          # 2-cycle
    rows += [("D", "L", "P279"), ("D", "R", "P279"),
             ("L", "T", "P279"), ("R", "T", "P279")]          # diamond
    rows += [("A", "HUB", "P279"), ("HUB", "Z", "P279")]      # ignored hub
    rows += [("S", "S", "P279")]                              # self-loop
    rows += [("DA", "DC", "P279"), ("DA", "DB", "P279"),
             ("DB", "DC", "P279")]                            # uneven diamond
    # two new paths of lengths 3 and 4 to one pair, found in one round
    rows += [("U0", "U1", "P279"), ("U1", "U2", "P279"), ("U2", "U3", "P279"),
             ("U0", "V1", "P279"), ("V1", "V2", "P279"), ("V2", "V3", "P279"),
             ("V3", "U3", "P279")]
    rows += [("X", "Y", "P279"), ("C3", "C4", "P279")]        # duplicate edges
    rows += [("W", "V", "P279"), ("W", "HUB", "P279")]        # edge into an ignored qid
    rows += [("P", "Q", "P279")]                              # disconnected pair
    e = _edges(spark, rows)
    want = _bfs_min_depths(rows, {"HUB"})
    assert want[("C0", "C20")] == 20 and want[("DA", "DC")] == 1 and want[("U0", "U3")] == 3
    assert want[("S", "S")] == 0 and ("A", "Z") not in want

    got = [(r["qid"], r["ancestor"], r["depth"]) for r in closure.p279_closure_with_depth(
        e, ignored=["HUB"], max_iterations=6).collect()]
    assert len(got) == len(want)
    assert {(q, a): d for q, a, d in got} == want
    pairs = [(r["qid"], r["ancestor"]) for r in closure.p279_closure(
        e, ignored=["HUB"], max_iterations=6).collect()]
    assert len(pairs) == len(want) and set(pairs) == set(want)


def test_p279_closure_doubling_raises_without_fixpoint(spark):
    """Both public entries raise instead of returning a partial closure
    when max_iterations runs out."""
    e = _edges(spark, [(f"C{i}", f"C{i+1}", "P279") for i in range(20)])
    for entry in (closure.p279_closure, closure.p279_closure_with_depth):
        with pytest.raises(RuntimeError, match="fixpoint"):
            entry(e, max_iterations=2)


def test_classifying_ancestors_union_semantics(spark):
    # X --P31--> R --P279--> S ; X --P279--> T
    e = _edges(spark, [("X", "R", "P31"), ("R", "S", "P279"), ("X", "T", "P279")])
    got = {(r["qid"], r["ancestor"]) for r in closure.classifying_ancestors(e).collect() if r["qid"] == "X"}
    assert {("X", "T"), ("X", "R"), ("X", "S"), ("X", "X")}.issubset(got)


def test_instance_types_excludes_own_p279(spark):
    # instance types = P31 roots + their closure; X's own P279 line excluded
    e = _edges(spark, [("X", "R", "P31"), ("R", "S", "P279"), ("X", "T", "P279")])
    got = {(r["qid"], r["type_qid"]) for r in closure.instance_types(e).collect() if r["qid"] == "X"}
    assert ("X", "R") in got and ("X", "S") in got
    assert ("X", "T") not in got


def test_materialized_closure_builds_reuses_and_invalidates(spark, tmp_path):
    """Round-4 verdict #5: the persisted qid-bucketed closure equals the
    inline build, a second call with the same snapshot REUSES the table
    (no rebuild — detected via the meta fingerprint), and a changed edge
    snapshot triggers a rebuild."""
    name = "wb_closure_test_tbl"
    for t in (name, name + "__meta"):
        if spark.catalog.tableExists(t):
            spark.sql(f"DROP TABLE {t}")

    e = _edges(spark, [("A", "B", "P279"), ("B", "C", "P279"), ("X", "C", "P279")])
    want = {(r["qid"], r["ancestor"]) for r in closure.p279_closure(e).collect()}
    got1 = {(r["qid"], r["ancestor"])
            for r in closure.materialized_closure(e, table_name=name).collect()}
    assert got1 == want
    fp1 = spark.table(name + "__meta").collect()[0]["fingerprint"]

    # same snapshot -> reuse (fingerprint unchanged, same rows)
    got2 = {(r["qid"], r["ancestor"])
            for r in closure.materialized_closure(e, table_name=name).collect()}
    assert got2 == want
    assert spark.table(name + "__meta").collect()[0]["fingerprint"] == fp1

    # changed snapshot -> fingerprint differs, table rebuilt with new rows
    e2 = _edges(spark, [("A", "B", "P279"), ("B", "C", "P279"), ("C", "D", "P279")])
    got3 = {(r["qid"], r["ancestor"])
            for r in closure.materialized_closure(e2, table_name=name).collect()}
    want3 = {(r["qid"], r["ancestor"]) for r in closure.p279_closure(e2).collect()}
    assert got3 == want3 and ("A", "D") in got3
    assert spark.table(name + "__meta").collect()[0]["fingerprint"] != fp1

    # the persisted table is bucketed by qid: joining it on qid plans NO
    # exchange of the closure side (the bucketed scan is pre-partitioned)
    probe = spark.createDataFrame([("A",), ("B",)], "qid string")
    joined = spark.table(name).hint("shuffle_merge").join(probe, "qid")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    import re
    scans = plan.count("FileScan parquet")
    assert scans >= 1
    # the closure-side scan feeds the join without an Exchange above it:
    # count exchanges — a bucketed sort-merge join needs at most ONE
    # (for the probe side), never two
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1

    for t in (name, name + "__meta"):
        spark.sql(f"DROP TABLE {t}")


def test_materialized_closure_torn_rebuild_leaves_no_stale_meta(spark, monkeypatch):
    """Round-5 ADVICE: a crash between the data write and the meta write
    must leave NO meta row — old-fingerprint meta next to new-snapshot
    data would spuriously validate if the edge snapshot later reverted to
    the old fingerprint, serving the wrong closure."""
    from wikibrain_spark.sources import catalog

    name = "wb_closure_torn_tbl"
    meta = name + "__meta"
    for t in (name, meta):
        if spark.catalog.tableExists(t):
            spark.sql(f"DROP TABLE {t}")

    e_old = _edges(spark, [("A", "B", "P279")])
    want_old = {(r["qid"], r["ancestor"]) for r in closure.p279_closure(e_old).collect()}
    got = {(r["qid"], r["ancestor"])
           for r in closure.materialized_closure(e_old, table_name=name).collect()}
    assert got == want_old and spark.catalog.tableExists(meta)

    # new snapshot, crash injected on the META write (data already rewritten)
    e_new = _edges(spark, [("A", "B", "P279"), ("B", "C", "P279")])
    real_save = catalog.save_table

    def crashing_save(df, tname, **kw):
        if tname == meta:
            raise RuntimeError("injected crash before meta write")
        real_save(df, tname, **kw)

    monkeypatch.setattr(catalog, "save_table", crashing_save)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected crash"):
        closure.materialized_closure(e_new, table_name=name)
    monkeypatch.setattr(catalog, "save_table", real_save)
    # the fence: no meta survives a torn rebuild
    assert not spark.catalog.tableExists(meta)

    # snapshot REVERTS to the old fingerprint: must REBUILD (old rows),
    # not validate the torn table's new-snapshot data against stale meta
    got_reverted = {(r["qid"], r["ancestor"])
                    for r in closure.materialized_closure(e_old, table_name=name).collect()}
    assert got_reverted == want_old
    for t in (name, meta):
        spark.sql(f"DROP TABLE {t}")


def test_shared_closure_df_matches_per_consumer_builds(spark):
    """instance_types/classifying_ancestors with an injected closure_df
    return exactly what their own inline builds return."""
    e = _edges(spark, [
        ("A", "T1", "P31"), ("T1", "T2", "P279"), ("B", "T2", "P31"),
        ("A", "S1", "P279"), ("S1", "S2", "P279"),
    ])
    shared = closure.p279_closure(e.where("pid='P279'"))
    for fn in (closure.instance_types, closure.classifying_ancestors):
        inline = {tuple(r) for r in fn(e).collect()}
        injected = {tuple(r) for r in fn(e, closure_df=shared).collect()}
        assert inline == injected and inline
