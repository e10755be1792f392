"""Golden-case tests for the link-resolution pipeline: every FIXTURES.md §5
case must produce exactly the reference's error_id (or be clean)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikibrain_spark.operators import linkres
from wikibrain_spark.sources import synthetic

ELEMENTS_SCHEMA = (
    "element_id long, object_type string, tags map<string,string>, "
    "lat double, lon double, expected_error_id string"
)
CLAIMS_SCHEMA = (
    "qid string, pid string, value_str string, value_qid string, "
    "value_lat double, value_lon double, qualifier_pids array<string>"
)


@pytest.fixture(scope="module")
def dims(spark):
    d = synthetic.generate_wikidata_dim()
    return linkres.WikiDims(
        wikidata=spark.createDataFrame(
            d["wikidata"], "qid string, label_en string, sitelinks map<string,string>, lat double, lon double"
        ),
        claims=spark.createDataFrame(d["wikidata_claims"], CLAIMS_SCHEMA),
        pages=spark.createDataFrame(d["wikipedia_pages"], "lang string, title string, qid string"),
        page_redirects=spark.createDataFrame(
            d["wikipedia_redirects"], "lang string, from_title string, to_title string"
        ),
        qid_redirects=spark.createDataFrame(d["wikidata_redirects"], "from_qid string, to_qid string"),
        edges=spark.createDataFrame(d["ontology_edges"], "child_qid string, parent_qid string, pid string"),
    )


@pytest.fixture(scope="module")
def resolved(spark, dims):
    elements = spark.createDataFrame(synthetic.generate_test_elements(), ELEMENTS_SCHEMA)
    got = linkres.resolve(elements.drop("expected_error_id"), dims).toPandas()
    want = synthetic.generate_test_elements()[["element_id", "expected_error_id", "tags"]]
    return got.set_index("element_id"), want


def test_every_golden_case(resolved):
    got, want = resolved
    failures = []
    for _, row in want.iterrows():
        eid = row["element_id"]
        expected = row["expected_error_id"]
        actual = got.loc[eid, "error_id"] if eid in got.index else None
        if expected in (None, "FILTERED"):
            if actual is not None:
                failures.append(f"#{eid} {dict(row['tags'])}: expected clean, got {actual!r}")
        else:
            if actual != expected:
                failures.append(f"#{eid} {dict(row['tags'])}: expected {expected!r}, got {actual!r}")
    assert not failures, "\n".join(failures)


def test_report_count_matches(resolved):
    got, want = resolved
    n_expected = want["expected_error_id"].apply(lambda e: e not in (None, "FILTERED")).sum()
    assert len(got) == n_expected


def test_expected_language_issues(spark, dims):
    """get_wikipedia_language_issues with expected_language_code set
    (wikimedia_link_issue_reporter.py:1211-1308, :2655-2701)."""
    cases = [
        # foreign link, object in an enforced-language country -> error
        (0, {"wikipedia": "de:Polnisches Ding", "wikidata": "Q555001"},
         "wikipedia tag unexpected language"),
        # foreign link, object partially in a foreign country -> allowed
        (1, {"wikipedia": "de:Grenzstadt", "wikidata": "Q555002"}, None),
        # matching language -> clean
        (2, {"wikipedia": "pl:Polska Rzecz", "wikidata": "Q555001"}, None),
        # first foreign country is Q7318 (Nazi Germany) -> NOT allowed (:2676-2680)
        (3, {"wikipedia": "de:Sache Vier", "wikidata": "Q555004"},
         "wikipedia tag unexpected language"),
        # no P17 at all -> NOT allowed (:2667-2669 returns None)
        (4, {"wikipedia": "de:Sache Fuenf", "wikidata": "Q555005"},
         "wikipedia tag unexpected language"),
        # first foreign country has NO English label on Wikidata -> allowed
        # (:2673-2675; the label check precedes the Q7318 carve-out)
        (5, {"wikipedia": "de:Sache Sechs", "wikidata": "Q555006"}, None),
    ]
    elements = spark.createDataFrame(
        [(i, "node", tags, 52.0, 20.0) for i, tags, _ in cases],
        "element_id long, object_type string, tags map<string,string>, lat double, lon double",
    )
    cfg = linkres.ResolveConfig(expected_language_code="pl")
    got = {r["element_id"]: r["error_id"] for r in linkres.resolve(elements, dims, cfg).collect()}
    for i, tags, expected in cases:
        assert got.get(i) == expected, f"case {i} {tags}: got {got.get(i)!r} want {expected!r}"


def test_facts_join_size_gate(spark, dims, monkeypatch):
    """Forcing the non-broadcast path (threshold 0) must produce identical
    golden results, with the facts joins planned as shuffle joins instead of
    BroadcastHashJoin on the facts side (round-1 verdict 'what's wrong #3')."""
    elements = spark.createDataFrame(synthetic.generate_test_elements(), ELEMENTS_SCHEMA)
    monkeypatch.setattr(linkres, "_FACTS_BROADCAST_THRESHOLD", 0)
    out = linkres.resolve(elements.drop("expected_error_id"), dims)
    monkeypatch.undo()  # the gate is read when resolve() is called
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    got = {(r["element_id"], r["error_id"]) for r in out.select("element_id", "error_id").collect()}
    want_df = linkres.resolve(elements.drop("expected_error_id"), dims)
    want = {(r["element_id"], r["error_id"]) for r in want_df.select("element_id", "error_id").collect()}
    assert got == want


def test_resolve_leaves_cache_manager_empty(spark, dims):
    """resolve() caches nothing in the session: repeated calls must not
    pile up persisted frames (and the blocks they pin) in the CacheManager."""
    elements = spark.createDataFrame(synthetic.generate_test_elements(), ELEMENTS_SCHEMA)
    spark.catalog.clearCache()
    for _ in range(2):
        linkres.resolve(elements.drop("expected_error_id"), dims)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_disambig_fix_list_message(spark, dims):
    """get_list_of_disambig_fixes (:1387-1410): the disambig error message
    carries the outlink list with per-link distance descriptions."""
    import dataclasses
    import math

    d = synthetic.generate_wikidata_dim()
    dims2 = dataclasses.replace(
        dims,
        disambig_links=spark.createDataFrame(
            d["disambig_links"], "lang string, title string, out_title string, ns int"
        ),
    )
    elements = spark.createDataFrame(
        [(0, "node", {"wikidata": "Q999001"}, 40.0, -74.0)],
        "element_id long, object_type string, tags map<string,string>, lat double, lon double",
    )
    row = linkres.resolve(elements, dims2).collect()[0]
    assert row["error_id"] == "link to a disambiguation page"

    # independent haversine for Hilltop Q104 at (-33.9, 151.2) from (40, -74)
    def hav(la1, lo1, la2, lo2):
        p = math.pi / 180
        a = (math.sin((la2 - la1) * p / 2) ** 2
             + math.cos(la1 * p) * math.cos(la2 * p) * math.sin((lo2 - lo1) * p / 2) ** 2)
        return 2 * 6371.0088 * math.asin(math.sqrt(a))

    km = int(hav(40.0, -74.0, -33.9, 151.2))
    expected = (
        "link leads to a disambig page - not a proper wikipedia link (according to"
        " Wikidata - if target is not a disambig check Wikidata entry whether it is"
        " correct)\n\n"
        "Brand Thing <no location data on wikidata>\n"
        f"Hilltop is {km} km away\n"
        "Megapolis is 0 m away\n"
    )
    assert row["error_message"] == expected


def test_geotagged_page_sniff(spark):
    """P17 is_wikipedia_page_geotagged (:2730-2740) truth table."""
    from wikibrain_spark.functions import wikitext

    kml = ('><span id="coordinates"><b>Route map</b>: '
           '<a rel="nofollow" class="external text"')
    cases = [
        ('x <span class="latitude">50</span> y', True),           # real coords
        ('coordinates inline plainlinks <span class="latitude">', False),  # inline only
        (f'<span class="latitude"> then coordinates inline plainlinks', True),  # span BEFORE inline marker
        ("no coords at all", False),
        (f"area page {kml} tail", True),                          # KML route map
        (f'coordinates inline plainlinks <span class="latitude"> {kml}', True),
    ]
    df = spark.createDataFrame([(i, h) for i, (h, _) in enumerate(cases)], "i long, page string")
    got = {r["i"]: r["g"] for r in df.select(
        "i", wikitext.is_wikipedia_page_geotagged(F.col("page")).alias("g")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}"


def test_tag_from_wikidata_errors(spark, dims):
    """generate_error_report_for_tag_from_wikidata (:795-820): add-proposal
    when the OSM tag is absent; conflicts only behind the
    allow_requesting_edits_outside_osm flag."""
    elements = spark.createDataFrame(
        [
            (0, "node", {"wikidata": "Q777001"}, 52.0, 19.0),                          # absent -> add
            (1, "node", {"wikidata": "Q777001", "teryt:simc": "0912345"}, 52.0, 19.0),  # equal -> clean
            (2, "node", {"wikidata": "Q777001", "teryt:simc": "BAD"}, 52.0, 19.0),      # conflict
        ],
        "element_id long, object_type string, tags map<string,string>, lat double, lon double",
    )
    got = {r["element_id"]: r for r in linkres.tag_from_wikidata_errors(
        elements, dims, pid="P4046", osm_key="teryt:simc").collect()}
    assert set(got) == {0}
    assert got[0]["error_id"] == "tag may be added based on wikidata"
    assert got[0]["error_message"].startswith("0912345 may be added as teryt:simc tag")
    assert dict(got[0]["prerequisite"]) == {"wikidata": "Q777001", "teryt:simc": None}

    got2 = {r["element_id"]: r for r in linkres.tag_from_wikidata_errors(
        elements, dims, pid="P4046", osm_key="teryt:simc",
        allow_requesting_edits_outside_osm=True).collect()}
    assert set(got2) == {0, 2}
    assert got2[2]["error_id"] == "tag conflict with wikidata value"
    assert dict(got2[2]["prerequisite"]) == {"wikidata": "Q777001", "teryt:simc": "BAD"}


def test_closure_table_config_matches_inline_facts(spark, dims):
    """ResolveConfig.closure_table serves build_qid_facts from the
    persisted qid-bucketed closure (built once per edge snapshot) and must
    produce EXACTLY the facts the inline closure build produces — and a
    second call must reuse the table (meta fingerprint unchanged)."""
    name = "wb_closure_linkres_test"
    for t in (name, name + "__meta"):
        if spark.catalog.tableExists(t):
            spark.sql(f"DROP TABLE {t}")

    base_cfg = linkres.ResolveConfig(languages_ordered_by_preference=["en", "de"])
    tbl_cfg = linkres.ResolveConfig(
        languages_ordered_by_preference=["en", "de"], closure_table=name
    )
    inline = linkres.build_qid_facts(dims, base_cfg).toPandas().sort_values("qid").reset_index(drop=True)
    via_table = linkres.build_qid_facts(dims, tbl_cfg).toPandas().sort_values("qid").reset_index(drop=True)
    pd.testing.assert_frame_equal(inline, via_table)
    fp = spark.table(name + "__meta").collect()[0]["fingerprint"]

    again = linkres.build_qid_facts(dims, tbl_cfg).toPandas().sort_values("qid").reset_index(drop=True)
    pd.testing.assert_frame_equal(inline, again)
    assert spark.table(name + "__meta").collect()[0]["fingerprint"] == fp

    for t in (name, name + "__meta"):
        spark.sql(f"DROP TABLE {t}")


def _facts_oracle(dims, cfg):
    """build_qid_facts in its per-property formulation: one frame per fact,
    each left-joined onto `wikidata` (15 joins), nine of them separate
    filter -> groupBy passes over the claims. Kept here as the
    differential oracle of the one-aggregate-per-source build. Where that
    formulation depended on row order it takes the build's canonical pick:
    the smallest P4046 string (it took `first` over an unordered group),
    sorted P105 values and sorted P159 (lat, lon) pairs."""
    from wikibrain_spark.functions import knowledge
    from wikibrain_spark.operators import closure as closure_ops

    spark = dims.wikidata.sparkSession
    ignored = knowledge.ontology_ignore_list()
    base = dims.wikidata.select("qid")
    bi = linkres.best_interwiki(dims, cfg)
    shared = closure_ops.p279_closure(dims.edges.where(F.col("pid") == "P279"), ignored=ignored)
    types = closure_ops.instance_types(dims.edges, ignored=ignored, closure_df=shared)
    type_flags = types.groupBy("qid").agg(
        F.max(F.col("type_qid") == "Q4167410").alias("is_disambig"),
        F.max(F.col("type_qid") == "Q13406463").alias("is_list"),
    )
    classifying = closure_ops.classifying_ancestors(dims.edges, ignored=ignored, closure_df=shared)
    classifying = classifying.union(base.select("qid", F.col("qid").alias("ancestor"))).distinct()
    inv = knowledge.invalid_types_df(spark)
    fails = classifying.join(F.broadcast(inv), classifying["ancestor"] == inv["type_qid"])
    ambiguous = classifying.where(F.col("ancestor") == "Q122754124").select("qid").distinct() \
        .withColumn("is_ambiguous_item", F.lit(True))
    unlink = fails.groupBy("qid").agg(
        F.min_by(F.struct("what", "replacement"),
                 F.struct(F.col("is_broad").cast("int").alias("b"), F.col("type_qid").alias("t"))).alias("u")
    ).select("qid", F.col("u.what").alias("unlink_what"), F.col("u.replacement").alias("unlink_replacement"))
    is_taxon = classifying.where(F.col("ancestor") == "Q16521").select("qid").distinct() \
        .withColumn("is_taxon", F.lit(True))
    c = dims.claims
    no_qual = lambda q: ~F.array_contains(F.coalesce("qualifier_pids", F.array()), q)  # noqa: E731
    flag = lambda pid, name: c.where(pid).select("qid").distinct().withColumn(name, F.lit(True))  # noqa: E731
    p105 = c.where((F.col("pid") == "P105") & F.col("value_qid").isNotNull()) \
        .groupBy("qid").agg(F.sort_array(F.collect_set("value_qid")).alias("p105_qids"))
    p17 = c.where((F.col("pid") == "P17") & F.col("value_qid").isNotNull() & no_qual("P582")) \
        .groupBy("qid").agg(F.sort_array(F.collect_set("value_qid")).alias("countries"))
    has_p17 = flag(F.col("pid") == "P17", "has_p17")
    sitelink_expected = dims.wikidata.select(
        "qid",
        (F.element_at("sitelinks", cfg.expected_language_code)
         if cfg.expected_language_code else F.lit(None).cast("string")).alias("sitelink_expected"),
    )
    p247 = flag(F.col("pid") == "P247", "has_p247")
    p279c = flag(F.col("pid") == "P279", "has_p279_claim")
    dissolved = flag((F.col("pid") == "P576") & no_qual("P1011"), "dissolved")
    hq = c.where((F.col("pid") == "P159") & F.col("value_lat").isNotNull()).groupBy("qid").agg(
        F.array_sort(F.collect_list(F.struct("value_lat", "value_lon"))).alias("hq")
    ).select("qid", F.col("hq.value_lat").alias("hq_lats"), F.col("hq.value_lon").alias("hq_lons"))
    area = flag(F.col("pid") == "P2046", "has_area")
    teryt = c.where(F.col("pid") == "P4046").groupBy("qid").agg(F.min("value_str").alias("teryt_simc"))
    facts = base
    for part in (bi, type_flags, ambiguous, unlink, is_taxon, p105, p17, has_p17, sitelink_expected,
                 p247, p279c, dissolved, hq, area, teryt):
        facts = facts.join(part, "qid", "left")
    return facts.fillna(
        {"is_disambig": False, "is_list": False, "is_ambiguous_item": False,
         "is_taxon": False, "has_p17": False,
         "has_p247": False, "has_p279_claim": False, "dissolved": False, "has_area": False}
    ).select("qid", *linkres.FACTS_COLS)


@pytest.fixture(scope="module")
def adversarial_dims(spark):
    """Claims built to break a one-aggregate facts build: null value_qid
    on P105/P17, P582/P1011 qualifiers (and null qualifier lists), P159
    rows with a null lat or lon, duplicate claims, a QID with claims but no
    wikidata row (QX) and a wikidata QID with no claims (QZ)."""
    wd = [
        ("QA", "A", {"en": "A", "pl": "A pl"}, 52.0, 21.0),
        ("QB", "B", {"de": "B de"}, None, None),
        ("QC", None, {}, 10.0, 5.0),
        ("QD", "D", {"pl": "D pl", "ceb": "D ceb"}, 0.0, 0.0),
        ("QE", "E", {"en": "E"}, 1.0, 1.0),
        ("QZ", "Z", {"en": "Z"}, 2.0, 2.0),
    ]
    claims = [
        ("QA", "P105", None, None, None, None, None),        # P105 with null value only
        ("QA", "P17", None, None, None, None, None),         # P17 with null value only
        ("QA", "P4046", "0912345", None, None, None, None),
        ("QA", "P4046", None, None, None, None, None),
        ("QA", "P4046", "0100001", None, None, None, None),
        ("QB", "P105", None, "Q7432", None, None, None),
        ("QB", "P105", None, "Q34740", None, None, []),
        ("QB", "P105", None, "Q7432", None, None, None),     # duplicate
        ("QB", "P105", None, None, None, None, None),
        ("QB", "P17", None, "Q30", None, None, ["P582"]),    # ended: not a country
        ("QB", "P17", None, "Q183", None, None, ["P580"]),
        ("QB", "P17", None, "Q183", None, None, None),       # duplicate
        ("QB", "P17", None, "Q145", None, None, None),
        ("QC", "P576", None, None, None, None, ["P1011"]),   # dissolved only partly
        ("QC", "P159", None, None, None, 5.0, None),         # null lat
        ("QC", "P2046", "12", None, None, None, None),
        ("QD", "P576", None, None, None, None, None),
        ("QD", "P576", None, None, None, None, ["P1011"]),
        ("QD", "P159", None, None, 52.0, 21.0, None),
        ("QD", "P159", None, None, 10.0, 5.0, None),
        ("QD", "P159", None, None, 52.0, 21.0, ["P580"]),    # duplicate
        ("QD", "P159", None, None, None, 3.0, None),         # null lat
        ("QE", "P247", "x", None, None, None, None),
        ("QE", "P247", "x", None, None, None, None),         # duplicate
        ("QE", "P279", None, "Q1", None, None, None),
        ("QE", "P17", None, "Q30", None, None, ["P582", "P580"]),
        ("QE", "P159", None, None, 5.0, None, None),         # null lon stays paired with its lat
        ("QX", "P105", None, "Q7432", None, None, None),     # no wikidata row
        ("QX", "P576", None, None, None, None, None),
        ("QX", "P159", None, None, 1.0, 1.0, None),
    ]
    edges = [
        ("QA", "Q4167410", "P31"),
        ("QB", "Q5", "P31"),
        ("QB", "Q16521", "P31"),
        ("QC", "Q13406463", "P31"),
        ("QC", "Q122754124", "P279"),
        ("QD", "Q1190554", "P31"),
        ("QD", "Q5", "P31"),
        ("QX", "Q5", "P31"),
    ]
    return linkres.WikiDims(
        wikidata=spark.createDataFrame(
            wd, "qid string, label_en string, sitelinks map<string,string>, lat double, lon double"
        ),
        claims=spark.createDataFrame(claims, CLAIMS_SCHEMA),
        pages=spark.createDataFrame([], "lang string, title string, qid string"),
        page_redirects=spark.createDataFrame([], "lang string, from_title string, to_title string"),
        qid_redirects=spark.createDataFrame([], "from_qid string, to_qid string"),
        edges=spark.createDataFrame(edges, "child_qid string, parent_qid string, pid string"),
    )


@pytest.mark.parametrize("cfg", [
    linkres.ResolveConfig(),
    linkres.ResolveConfig(expected_language_code="pl", languages_ordered_by_preference=["de"]),
], ids=["default", "pl"])
def test_qid_facts_match_per_property_oracle(adversarial_dims, cfg):
    """The one-aggregate-per-source facts equal the per-property
    formulation row for row, column for column, on adversarial claims."""
    got = linkres.build_qid_facts(adversarial_dims, cfg)
    want = _facts_oracle(adversarial_dims, cfg)
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
    got_rows = [r.asDict(recursive=True) for r in got.orderBy("qid").collect()]
    want_rows = [r.asDict(recursive=True) for r in want.orderBy("qid").collect()]
    assert got_rows == want_rows
    by_qid = {r["qid"]: r for r in got_rows}
    assert set(by_qid) == {"QA", "QB", "QC", "QD", "QE", "QZ"}
    # the cases the null-for-empty rule exists for
    assert by_qid["QA"]["p105_qids"] is None and by_qid["QA"]["has_p17"]
    assert by_qid["QB"]["countries"] == ["Q145", "Q183"]
    assert by_qid["QC"]["hq_lats"] is None and not by_qid["QC"]["dissolved"]
    assert by_qid["QD"]["hq_lats"] == [10.0, 52.0, 52.0] and by_qid["QD"]["dissolved"]
    assert (by_qid["QE"]["hq_lats"], by_qid["QE"]["hq_lons"]) == ([5.0], [None])
    assert by_qid["QA"]["teryt_simc"] == "0100001"
    qz = by_qid["QZ"]
    assert all(qz[c] is None for c in ("unlink_what", "p105_qids", "countries", "hq_lats", "teryt_simc"))
    assert not any(qz[c] for c in ("is_disambig", "is_list", "is_ambiguous_item", "is_taxon", "has_p17",
                                   "has_p247", "has_p279_claim", "dissolved", "has_area"))


def test_facts_plan_shape(spark, dims):
    """build_qid_facts reads the claims once, through one aggregate, and
    left-joins four frames onto `wikidata` (the fifth LeftOuter join is
    classifying ⋈ invalid_types); resolve() looks the facts up once per
    element (no separate wikidata-tag join) and the collision check once
    per wikidata QID (the other wd_val join is qid_redirects); the J13
    pandas UDF is one ArrowEvalPython: the final filter and select read its
    column instead of each re-running it."""
    import re

    facts = linkres.build_qid_facts(dims, linkres.ResolveConfig())
    analyzed = facts._jdf.queryExecution().analyzed().toString().split("\n")
    assert sum("LocalRelation [qid#" in line and "value_str#" in line for line in analyzed) == 1
    optimized = facts._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Join LeftOuter") == 5

    elements = spark.createDataFrame(synthetic.generate_test_elements(), ELEMENTS_SCHEMA)
    qe = linkres.resolve(elements.drop("expected_error_id"), dims)._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    assert "__wd_qid" not in plan
    assert len(re.findall(r"Join LeftOuter, \(wd_val#\d+ = wd_val#\d+\)", plan)) == 2
    assert qe.executedPlan().toString().count("ArrowEvalPython") == 1
