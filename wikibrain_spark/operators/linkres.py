"""Link-resolution operator library: the reference's validator pipeline,
re-expressed as columnar Spark (SURVEY.md §2.2-§2.4, §3.1).

Architecture (scale-first):
  1. build_qid_facts(): ALL per-QID knowledge (existence, best interwiki,
     disambig/list/unlinkable classification, dissolved, headquarters, ...)
     is aggregated ONCE PER DISTINCT QID — never per element row — with one
     aggregate per source (sitelinks, instance types, classifying
     ancestors, claims) left-joined onto `wikidata`. At 10^12 elements this
     is the difference between joining a broadcastable facts dim and
     re-running ontology closure per row.
  2. resolve(): the element-side pipeline is a DAG of column expressions +
     broadcast joins against qid_facts/pages/redirects, with three small
     explode->aggregate stages for the per-key loops. Each element looks up
     the facts of its effective QID once; the collision check looks up
     each pair's wikidata QID once. The reference's
     short-circuit priority (wikimedia_link_issue_reporter.py:275-298) is
     preserved by a coalesce fold over per-stage error structs, in exactly
     the reference's order.

Deterministic canonicalizations (documented deviations, SURVEY.md §7.3):
  - the reference iterates dict insertion order; we canonicalize to sorted
    key order for the per-key loops (min_by over (key_rank, check_rank)).
  - A5 broad-vs-specific: we pick min(type_qid) among non-broad failures
    (reference keeps the last traversal hit, which is cache-order dependent).
  - claim order: P17 countries and P105 values sorted, P159 locations
    sorted, teryt:simc = the smallest P4046 value (build_qid_facts).
  - J13 measures with the Karney WGS-84 inverse (geo/geodesic.karney_km),
    the kernel behind the reference's geopy distance.

Every error_id string is byte-identical to the reference (citations at
each construction site).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wikibrain_spark.functions import knowledge, wikitext
from wikibrain_spark.functions.languages import LANGUAGE_CODES_BY_IMPORTANCE
from wikibrain_spark.geo.geodesic import haversine_km_col
from wikibrain_spark.operators import closure as closure_ops

MAP_TYPE = "map<string,string>"
CHANGES_TYPE = "array<struct<from:map<string,string>,to:map<string,string>>>"
ERR_SCHEMA = (
    "struct<error_id:string,error_message:string,"
    "error_general_intructions:string,"  # [sic] reference spelling, :12
    f"prerequisite:{MAP_TYPE},"
    f"proposed_tagging_changes:{CHANGES_TYPE}>"
)

# reference: wikidata_data_quality_warning (:720-721)
DATA_QUALITY_WARNING = (
    "REMEMBER TO VERIFY! WIKIDATA QUALITY MAY BE POOR! "
    "WIKIDATA MUST NOT BE USED AS SOURCE! ALWAYS VERIFY!"
)


def _lit(x: Column | str | None) -> Column:
    if x is None:
        return F.lit(None).cast("string")
    return x if isinstance(x, Column) else F.lit(x)


def _err(
    error_id: Column | str,
    message: Column | str,
    prerequisite: Column | None = None,
    proposed: Column | None = None,
    instructions: Column | str | None = None,
) -> Column:
    """Full ErrorReport payload struct (wikimedia_link_issue_reporter.py:11-45):
    error_id + error_message + error_general_intructions + prerequisite (the
    compare-and-swap guard consumed by apply_changes) + proposed_tagging_changes."""
    pre = prerequisite if prerequisite is not None else F.lit(None)
    prop = proposed if proposed is not None else F.lit(None)
    return F.struct(
        _lit(error_id).alias("error_id"),
        _lit(message).alias("error_message"),
        _lit(instructions).alias("error_general_intructions"),
        pre.cast(MAP_TYPE).alias("prerequisite"),
        prop.cast(CHANGES_TYPE).alias("proposed_tagging_changes"),
    )


def _m(*pairs) -> Column:
    """Prerequisite map literal from (key, value) pairs; values may be null
    Columns (the reference stores e.g. {'wikidata': None})."""
    args: list[Column] = []
    for k, v in pairs:
        args.append(_lit(k))
        args.append(_lit(v))
    return F.create_map(*args).cast(MAP_TYPE)


def _chg(frm: Column, to: Column) -> Column:
    """Single-entry proposed_tagging_changes array [{'from': .., 'to': ..}]."""
    return F.array(
        F.struct(frm.cast(MAP_TYPE).alias("from"), to.cast(MAP_TYPE).alias("to"))
    ).cast(CHANGES_TYPE)


def _empty_map() -> Column:
    return F.create_map().cast(MAP_TYPE)


def _subject_message(topic: Column, special_prefix: Column, wikidata_id: Column, best_link: Column) -> Column:
    """should_use_subject_message (:1311-1327), byte-for-byte including the
    reference's line-continuation whitespace."""
    about_article = F.when(
        best_link.isNotNull(),
        F.concat(F.lit("("), wikitext.article_name_of(best_link), F.lit(" article)")),
    ).otherwise(F.lit(""))
    special_text = F.when(
        special_prefix.isNotNull(), F.concat(F.lit("or "), special_prefix, F.lit("wikipedia"))
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit("linked wikidata entry ("), wikidata_id, F.lit(")"), about_article,
        F.lit(" is about "), topic,
        F.lit(", so it is very unlikely to be correct \n        subject:wikipedia=* "),
        special_text,
        F.lit(" tag would be probably better "
              "        (see https://wiki.openstreetmap.org/wiki/Key:wikipedia#Secondary_Wikipedia_links"
              " for full list of what else may be applicable) \n"
              "        in case of change remember to add such prefix (or remove) wikidata tag if it is present \n"
              "        object categorised by Wikidata - wrong classification may be caused by wrong data on Wikidata"),
    )


@dataclass
class WikiDims:
    """Dimension tables replacing the reference's network call surface
    (SURVEY.md §2.1 S2-S9); all broadcast-sized relative to elements."""

    wikidata: DataFrame        # qid, label_en, sitelinks map<string,string>, lat, lon
    claims: DataFrame          # qid, pid, value_str, value_qid, value_lat, value_lon, qualifier_pids array<string>
    pages: DataFrame           # lang, title, qid
    page_redirects: DataFrame  # lang, from_title, to_title
    qid_redirects: DataFrame   # from_qid, to_qid
    edges: DataFrame           # child_qid, parent_qid, pid in {P31, P279}
    # optional: (lang, title, out_title, ns) outlinks of disambig pages —
    # feeds the distance-ranked fix list in the disambig error message
    # (get_list_of_disambig_fixes, :1387-1410); None -> empty list
    disambig_links: DataFrame | None = None


@dataclass
class ResolveConfig:
    expected_language_code: str | None = None
    languages_ordered_by_preference: list[str] = field(default_factory=list)
    # when set, the P279 closure is served from this qid-bucketed catalog
    # table (built once per edge snapshot, fingerprint-checked — see
    # closure.materialized_closure) instead of rebuilt inline per run
    closure_table: str | None = None


# =====================================================================
# per-QID facts (computed once per distinct QID, broadcast to elements)
# =====================================================================

# broadcast the per-QID facts dim only up to this many rows; above it (e.g.
# a full Wikidata snapshot, ~100M QIDs) every facts-side join is a shuffle
# hash join on qid, so the driver never materializes the dim
_FACTS_BROADCAST_THRESHOLD = 10_000_000

# resolve()'s view of one QID: the columns build_qid_facts returns after qid
FACTS_COLS = ("best_link", "is_disambig", "is_list", "is_ambiguous_item", "unlink_what",
              "unlink_replacement", "is_taxon", "p105_qids", "countries", "has_p17",
              "sitelink_expected", "has_p247", "has_p279_claim", "dissolved",
              "hq_lats", "hq_lons", "has_area", "teryt_simc")


def _any_hq_far(lat: pd.Series, lon: pd.Series, hq_lats: pd.Series, hq_lons: pd.Series) -> pd.Series:
    """pandas-UDF body: is any P159 location more than 20 km away, under
    the Karney WGS-84 inverse (geo/geodesic.karney_km, the reference's
    geopy kernel). Arrow-batched; the per-row hq lists are flattened so
    the kernel runs once, vectorized, over the whole batch. Wrapped with
    pandas_udf at the call site."""
    import numpy as np

    from wikibrain_spark.geo.geodesic import karney_km

    lens = np.array([0 if a is None else len(a) for a in hq_lats], dtype=np.int64)
    out = np.zeros(len(lat), dtype=bool)
    if lens.sum() > 0:
        idx = np.repeat(np.arange(len(lat)), lens)
        flat_la = np.concatenate([np.asarray(a, dtype=np.float64) for a in hq_lats if a is not None and len(a)])
        flat_lo = np.concatenate([np.asarray(a, dtype=np.float64) for a in hq_lons if a is not None and len(a)])
        la = lat.to_numpy(dtype=np.float64)[idx]
        lo = lon.to_numpy(dtype=np.float64)[idx]
        ok = ~(np.isnan(la) | np.isnan(lo))
        far = np.zeros(len(idx), dtype=bool)
        far[ok] = karney_km(la[ok], lo[ok], flat_la[ok], flat_lo[ok]) > 20.0
        np.logical_or.at(out, idx, far)
    return pd.Series(out)


def best_interwiki(dims: WikiDims, cfg: ResolveConfig) -> DataFrame:
    """(qid, best_link 'lang:title') — first language in (preference list +
    global importance order) having a sitelink (get_best_interwiki_link_by_id,
    wikimedia_link_issue_reporter.py:692-699 / SURVEY.md A6)."""
    spark = dims.wikidata.sparkSession
    prio = list(dict.fromkeys(list(cfg.languages_ordered_by_preference) + LANGUAGE_CODES_BY_IMPORTANCE))
    prio_df = spark.createDataFrame(list(enumerate(prio)), "rank int, lang string")
    links = dims.wikidata.select("qid", F.explode("sitelinks").alias("lang", "title"))
    return (
        links.join(F.broadcast(prio_df), "lang")
        .groupBy("qid")
        .agg(F.min_by(F.concat("lang", F.lit(":"), "title"), "rank").alias("best_link"))
    )


def build_qid_facts(dims: WikiDims, cfg: ResolveConfig) -> DataFrame:
    """One row per wikidata QID with every per-entity fact the pipeline
    needs: qid + FACTS_COLS. One aggregate per source, four joins onto
    `wikidata`: best_interwiki, the instance-type flags (disambig/list),
    one aggregate over the classifying ancestors (ambiguous item, A5
    unlink class, taxon) and one over the claims (P105, P17, P247, P279,
    P576 w/o P1011 qualifier, P159 hq_lats/hq_lons, P2046, P4046).

    A claims array with no element is null, as if the QID had no such
    claim: `p105_qids` is null exactly when "no P105" applies, `hq_lats`
    is null when J13 has nothing to measure. Lists are canonical: P105 and
    P17 sorted, the P159 (lat, lon) pairs sorted by lat then lon, and
    `teryt_simc` is the smallest P4046 string (the claims carry no order).
    """
    spark = dims.wikidata.sparkSession
    ignored = knowledge.ontology_ignore_list()

    # ONE P279 closure serves both consumers below (and, when
    # cfg.closure_table is set, is a bucketed build-once-per-snapshot
    # table — round-4 verdict #5: the closure changes with the wikidata
    # snapshot, not per query, so consumers join the persisted qid-bucketed
    # table instead of re-running the iterative build)
    p279 = dims.edges.where(F.col("pid") == "P279")
    if cfg.closure_table:
        shared_closure = closure_ops.materialized_closure(
            p279, table_name=cfg.closure_table, ignored=ignored
        )
    else:
        shared_closure = closure_ops.p279_closure(p279, ignored=ignored)

    # instance types (P31 roots + their P279 closure) for disambig/list
    types = closure_ops.instance_types(dims.edges, ignored=ignored, closure_df=shared_closure)
    type_flags = types.groupBy("qid").agg(
        F.max(F.col("type_qid") == "Q4167410").alias("is_disambig"),   # :1734-1735
        F.max(F.col("type_qid") == "Q13406463").alias("is_list"),      # :1753
    )

    # classifying ancestors (P279-closure of self ∪ closure of P31 roots,
    # :1433-1453) + reflexive self, left-joined to invalid_types (:1539-1732)
    classifying = closure_ops.classifying_ancestors(
        dims.edges, ignored=ignored, closure_df=shared_closure
    )
    classifying = classifying.union(dims.wikidata.select("qid", F.col("qid").alias("ancestor"))).distinct()
    inv = knowledge.invalid_types_df(spark)
    ancestor = F.col("ancestor")
    classes = (
        classifying.join(F.broadcast(inv), classifying["ancestor"] == inv["type_qid"], "left")
        .groupBy("qid")
        .agg(
            F.max(ancestor == "Q122754124").alias("is_ambiguous_item"),  # :1503-1506
            # A5 specificity preference (:1524-1529): non-broad beats broad;
            # canonical tie-break = min type_qid (see module docstring).
            # min_by skips the null keys of ancestors that match no type
            F.min_by(
                F.struct("what", "replacement"),
                F.when(F.col("type_qid").isNotNull(),
                       F.struct(F.col("is_broad").cast("int").alias("b"), F.col("type_qid").alias("t"))),
            ).alias("u"),
            F.max(ancestor == "Q16521").alias("is_taxon"),  # :1776, :1822-1824
        )
        .select("qid", "is_ambiguous_item", F.col("u.what").alias("unlink_what"),
                F.col("u.replacement").alias("unlink_replacement"), "is_taxon")
    )

    pid = F.col("pid")
    qualifiers = F.coalesce("qualifier_pids", F.array())

    def nonempty(arr: Column) -> Column:
        return F.when(F.size(arr) > 0, arr)

    hq = F.array_sort(F.collect_list(F.when(
        (pid == "P159") & F.col("value_lat").isNotNull(),
        F.struct(F.col("value_lat").alias("la"), F.col("value_lon").alias("lo")),
    )))
    claims = dims.claims.groupBy("qid").agg(
        nonempty(F.sort_array(F.collect_set(F.when(pid == "P105", F.col("value_qid"))))).alias("p105_qids"),  # :1795
        # P17 countries, excluding statements qualified by P582 (:2684-2701).
        # Sorted for a deterministic "first foreign country" (the reference
        # uses claim order, which is API-response order — canonicalized here)
        nonempty(F.sort_array(F.collect_set(F.when(
            (pid == "P17") & ~F.array_contains(qualifiers, "P582"), F.col("value_qid"))))).alias("countries"),
        F.max(pid == "P17").alias("has_p17"),
        F.max(pid == "P247").alias("has_p247"),
        F.max(pid == "P279").alias("has_p279_claim"),
        # P576 dissolved unless qualified by P1011 (:736-750)
        F.max((pid == "P576") & ~F.array_contains(qualifiers, "P1011")).alias("dissolved"),
        nonempty(F.transform(hq, lambda s: s["la"])).alias("hq_lats"),
        nonempty(F.transform(hq, lambda s: s["lo"])).alias("hq_lons"),
        F.max(pid == "P2046").alias("has_area"),
        F.min(F.when(pid == "P4046", F.col("value_str"))).alias("teryt_simc"),
    )

    base = dims.wikidata.select(
        "qid",
        (F.element_at("sitelinks", cfg.expected_language_code)
         if cfg.expected_language_code else F.lit(None).cast("string")).alias("sitelink_expected"),
    )
    facts = (
        base.join(best_interwiki(dims, cfg), "qid", "left")
        .join(type_flags, "qid", "left")
        .join(classes, "qid", "left")
        .join(claims, "qid", "left")
        .fillna(
            {"is_disambig": False, "is_list": False, "is_ambiguous_item": False,
             "is_taxon": False, "has_p17": False,
             "has_p247": False, "has_p279_claim": False, "dissolved": False, "has_area": False}
        )
    )
    return facts.select("qid", *FACTS_COLS)


def _maybe_broadcast(df: DataFrame, broadcast: bool) -> DataFrame:
    """Size-gated broadcast (round-1 verdict 'what's wrong #3'): below the
    facts threshold broadcast wins; above it a shuffle hash join on qid
    avoids materializing the dim on the driver."""
    return F.broadcast(df) if broadcast else df.hint("shuffle_hash")


# =====================================================================
# stage helpers (each returns DF(element_id, err struct) or a Column)
# =====================================================================

def _tag(key: str) -> Column:
    return F.element_at("tags", key)


def reducible_to_point() -> Column:
    """element_can_be_reduced_to_position_at_single_location (:2703-2710,
    SURVEY.md P2): route/person relations and rivers span areas, so
    location-dependent checks (headquarters distance J13, disambig distance
    ranking J14) must not treat their anchor coordinate as THE location."""
    return ~(
        ((F.col("object_type") == "relation") & F.coalesce(_tag("type").isin("person", "route"), F.lit(False)))
        | _tag("waterway").eqNullSafe("river")
    )


def _should_be_deleted() -> Column:
    """object_should_be_deleted_not_repaired (:2712-2722) — filter, no report."""
    return (
        ((F.col("object_type") == "relation") & (_tag("type") == F.lit("person")))
        | (_tag("historic") == F.lit("battlefield"))
        | (_tag("boundary") == F.lit("timezone"))
        | _tag("xmas:feature").isNotNull()
    )


def _summary_of_tags(wd: Column, wp: Column) -> Column:
    """get_should_use_subject_error_tag_summary (:1329-1336)."""
    return (
        F.when(wd.isNotNull() & wp.isNotNull(), F.lit("wikipedia and wikidata"))
        .when(wd.isNotNull(), F.lit("wikidata"))
        .otherwise(F.lit("wikipedia"))
    )


def _teryt_err() -> Column:
    """use_special_properties_allowing_to_ignore_wikipedia_tags (:300-334).
    Needs columns: wd_teryt_simc (facts of tags.wikidata), wd_best_link."""
    simc_tag = _tag("teryt:simc")
    simc_wd = F.col("wd_teryt_simc")
    applicable = _tag("wikidata").isNotNull() & simc_tag.isNotNull() & simc_wd.isNotNull()
    pre_basic = _m(("wikidata", _tag("wikidata")), ("teryt:simc", simc_tag))
    pre_full = _m(
        ("wikidata", _tag("wikidata")), ("teryt:simc", simc_tag), ("wikipedia", F.col("wikipedia"))
    )
    return F.when(
        applicable & (simc_wd != simc_tag),
        _err(
            "mismatching teryt:simc codes in wikidata and in osm element",  # :313
            F.concat(
                F.lit("mismatching teryt:simc codes in wikidata ("), _tag("wikidata"),
                F.lit(") where "), simc_wd,
                F.lit(" is declared and in osm element, where teryt:simc="), simc_tag,
                F.lit(" is declared. TERYT database may be searched at "
                      "http://eteryt.stat.gov.pl/eTeryt/rejestr_teryt/udostepnianie_danych/baza_teryt/"
                      "uzytkownicy_indywidualni/wyszukiwanie/wyszukiwanie.aspx?contrast=default"
                      " (switch to SIMC tab) "),
            ),
            prerequisite=pre_basic,
        ),
    ).when(
        applicable & (simc_wd == simc_tag)
        & ~(F.col("wikipedia").eqNullSafe(F.col("wd_best_link"))),
        F.when(
            F.col("wd_best_link").isNotNull(),
            _err(
                "wikipedia needs to be updated based on wikidata code and teryt:simc identifier",  # :323
                F.concat(F.lit("new wikipedia tag "), F.col("wd_best_link"),
                         F.lit(" proposed based on matching teryt:simc codes in wikidata ("),
                         _tag("wikidata"), F.lit(") and in osm element, where teryt:simc="),
                         simc_tag, F.lit(" is declared")),
                prerequisite=pre_full,
            ),
        ).otherwise(
            _err(
                "wikipedia tag needs to be removed based on wikidata code and teryt:simc identifier",  # :330
                F.concat(F.lit(" it seems that wikipedia tag should be removed given matching "
                               "teryt:simc codes in wikidata ("), _tag("wikidata"),
                         F.lit(") and in osm element, where teryt:simc="), simc_tag,
                         F.lit(" is declared")),
                prerequisite=pre_full,
            )
        ),
    )


# ---------------------------------------------------------------- stage 2a

def _old_style_errors(elements: DataFrame, dims: WikiDims, bi: DataFrame, bcast: bool = True) -> DataFrame:
    """remove_old_style_wikipedia_tags (:830-938) -> (element_id, err)."""
    keys = elements.select(
        "element_id", "tags",
        _tag("wikipedia").alias("wikipedia"), _tag("wikidata").alias("wikidata"),
        F.explode(F.filter(F.array_sort(F.map_keys("tags")), lambda k: k.contains("wikipedia:"))).alias("key"),
    )
    invalid = (
        keys.where(~wikitext.is_valid_old_style_key(F.col("key")))
        .groupBy("element_id")
        .agg(
            F.min_by(
                F.struct(F.col("key").alias("k"), F.element_at("tags", F.col("key")).alias("v")),
                F.col("key"),
            ).alias("bad")
        )
        .select(
            "element_id",
            _err(
                "invalid old-style wikipedia tag",  # :845
                F.concat(F.lit("wikipedia tag in outdated form ("), F.col("bad.k"),
                         F.lit("), is not using any known language code")),
                prerequisite=_m((F.col("bad.k"), F.col("bad.v"))),  # :847
            ).alias("err"),
        )
    )

    # valid old-style keys -> candidate links (:970-997)
    cand = keys.where(wikitext.is_valid_old_style_key(F.col("key"))).select(
        "element_id", "wikipedia", "wikidata",
        wikitext.old_style_lang_of(F.col("key")).alias("k_lang"),
        F.element_at("tags", F.col("key")).alias("k_article"),
    )
    dbl = F.col("k_article").startswith(F.concat("k_lang", F.lit(":")))  # double-prefix (:976-984)
    cand = cand.select(
        "element_id", "wikipedia", "wikidata",
        F.when(dbl, wikitext.lang_code_of(F.col("k_article"))).otherwise(F.col("k_lang")).alias("lang"),
        F.when(dbl, wikitext.article_name_of(F.col("k_article"))).otherwise(F.col("k_article")).alias("article"),
    )
    pages = dims.pages.select(F.col("lang"), F.col("title"), F.col("qid").alias("cand_qid"))
    cand = cand.join(F.broadcast(pages), (cand["lang"] == pages["lang"]) & (cand["article"] == pages["title"]), "left").drop(pages["lang"]).drop("title")
    cand = cand.join(_maybe_broadcast(bi.withColumnRenamed("qid", "cand_qid"), bcast), "cand_qid", "left")
    cand = cand.withColumn(
        "link", F.coalesce("best_link", F.concat("lang", F.lit(":"), "article"))
    )
    # resolve each distinct link to a QID (primary wikipedia joins in too)
    prim = elements.where(
        _tag("wikipedia").isNotNull()
        & (F.size(F.filter(F.map_keys("tags"), lambda k: k.contains("wikipedia:"))) > 0)
    ).select(
        "element_id", _tag("wikipedia").alias("wikipedia"), _tag("wikidata").alias("wikidata"),
        _tag("wikipedia").alias("link"),
    )
    links = cand.select("element_id", "wikipedia", "wikidata", "link").union(prim).distinct()
    links = links.withColumn("l_lang", wikitext.lang_code_of(F.col("link"))).withColumn(
        "l_article", wikitext.article_name_of(F.col("link"))
    )
    # follow wikipedia redirect when applicable (:878-881)
    pr = dims.page_redirects.select(
        F.col("lang").alias("l_lang"), F.col("from_title").alias("l_article"),
        F.col("to_title").alias("redir_title"),
    )
    links = links.join(F.broadcast(pr), ["l_lang", "l_article"], "left")
    links = links.withColumn(
        "l_final",
        F.when(F.col("redir_title").isNotNull() & ~F.col("l_article").contains("#"), F.col("redir_title")).otherwise(F.col("l_article")),
    )
    p2 = dims.pages.select(
        F.col("lang").alias("l_lang"), F.col("title").alias("l_final"), F.col("qid").alias("link_qid")
    )
    links = links.join(F.broadcast(p2), ["l_lang", "l_final"], "left")

    agg = links.groupBy("element_id").agg(
        F.first("wikipedia", ignorenulls=True).alias("wp"),
        F.first("wikidata", ignorenulls=True).alias("wd"),
        F.max(F.col("link_qid").isNull()).alias("any_unresolved"),
        F.collect_set("link_qid").alias("qids"),
    )
    # conflicts (canonicalized: see module docstring / :857-900)
    agg = agg.withColumn(
        "all_ids", F.array_distinct(F.filter(F.concat(F.array("wd"), "qids"), lambda x: x.isNotNull()))
    )
    agg = agg.withColumn("has_conflict", F.col("any_unresolved") | (F.size("all_ids") > 1))
    # prerequisite (:908-912) = {'wikidata', 'wikipedia'} + every old-style key;
    # proposed changes (:927, :937) need the old-style key map + the normalized
    # id's best interwiki link
    info = elements.select(
        "element_id",
        F.map_filter("tags", lambda k, v: k.contains("wikipedia:")).alias("old_map"),
    )
    agg = agg.join(info, "element_id", "left")
    agg = agg.withColumn(
        "__norm_qid", F.when(F.size("all_ids") == 1, F.element_at("all_ids", 1))
    ).join(
        _maybe_broadcast(bi.select(F.col("qid").alias("__norm_qid"), F.col("best_link").alias("norm_best_link")), bcast),
        "__norm_qid", "left",
    )
    keys_repr = F.concat(
        F.lit("['"), F.concat_ws("', '", F.array_sort(F.map_keys("old_map"))), F.lit("']")
    )
    pre = F.map_concat(
        _m(("wikidata", F.col("wd")), ("wikipedia", F.col("wp"))), F.col("old_map")
    )
    converted = agg.select(
        "element_id",
        F.when(
            F.col("has_conflict"),
            _err(
                "wikipedia tag in outdated form and there is mismatch between links",  # :917
                # conflict detail list canonicalized (reference embeds str(list)
                # built in network-iteration order, :869-900)
                F.concat(F.lit("wikipedia tag in outdated form ("), keys_repr,
                         F.lit(", with conflicting links). Mismatch between different links "
                               "happened and requires human judgment to solve.")),
                prerequisite=pre,
            ),
        )
        .when(
            F.col("wp").isNull(),
            _err(
                "wikipedia tag from wikipedia tag in an outdated form",  # :924
                F.concat(F.lit("wikipedia tag in outdated form ("), keys_repr,
                         F.lit("), wikipedia tag may be added")),
                prerequisite=pre,
                proposed=_chg(_m(("wikipedia", None)), _m(("wikipedia", F.col("norm_best_link")))),  # :927
            ),
        )
        .otherwise(
            _err(
                "wikipedia tag in an outdated form for removal",  # :934
                F.concat(F.lit("wikipedia tag in outdated form ("), keys_repr,
                         F.lit("), with wikipedia and wikidata tag present and may be safely removed")),
                prerequisite=pre,
                proposed=_chg(F.col("old_map"), _empty_map()),  # :937
            )
        )
        .alias("err"),
    )
    # invalid beats conversion (:833-838)
    return (
        invalid.withColumnRenamed("err", "err_a")
        .join(converted.withColumnRenamed("err", "err_b"), "element_id", "full")
        .select("element_id", F.coalesce("err_a", "err_b").alias("err"))
    )


# ---------------------------------------------------------------- stage 2b

def _per_key_errors(elements: DataFrame, dims: WikiDims) -> DataFrame:
    """The :345-371 per-key malformed/404 loop -> (element_id, err)."""
    tagged = elements.select(
        "element_id",
        F.explode("tags").alias("key", "value"),
        F.array_sort(F.map_keys("tags")).alias("sorted_keys"),
    ).withColumn("key_rank", F.array_position("sorted_keys", F.col("key"))).drop("sorted_keys")

    is_wd = F.col("key").contains("wikidata")
    is_wp = F.col("key").contains("wikipedia")
    tagged = tagged.where(is_wd | is_wp)

    actual = wikitext.is_actual_wiki_key(F.col("key"))
    value = F.col("value")

    # --- wikidata malformed (check_is_wikidata_link_clearly_malformed :604-616)
    ety = (F.col("key") == "name:etymology:wikidata:missing") & (value == "yes")
    wd_broken = wikitext.is_wikidata_value_broken(value)
    prefix = F.regexp_replace(F.col("key"), ":wikidata$", "")
    pre_kv = _m((F.col("key"), value))
    malformed_wd = F.when(
        is_wd & ety,
        _err("name:etymology:wikidata:missing",  # :608
             F.lit("name:etymology:wikidata:missing with value 'yes' - a really dubious tagging scheme"),
             prerequisite=pre_kv),
    ).when(
        is_wd & wd_broken & (F.col("key") == "wikidata"),
        _err("malformed wikidata tag",  # :621
             F.concat(F.lit("malformed value in wikidata tag ("), value,
                      F.lit(") value is expected to be like Q63736736  with Q at start and then numbers")),
             prerequisite=pre_kv),
    ).when(
        is_wd & wd_broken & (F.col("key") != "wikidata") & actual & F.col("key").endswith(":wikidata"),
        _err(F.concat(F.lit("malformed secondary wikidata tag - for "), prefix, F.lit(" prefixed tags")),  # :630
             F.concat(F.lit("malformed value in "), F.col("key"), F.lit(" tag ("), value, F.lit(")")),
             prerequisite=pre_kv),
    ).when(
        is_wd & wd_broken & (F.col("key") != "wikidata") & actual,
        _err(F.concat(F.lit("malformed secondary wikidata tag for "), F.col("key"), F.lit(" tag")),  # :636
             F.concat(F.lit("malformed value in "), F.col("key"), F.lit(" tag ("), value, F.lit(")")),
             prerequisite=pre_kv),
    )

    # --- wikipedia malformed (check_is_wikipedia_link_clearly_malformed :583-602)
    lang = wikitext.lang_code_of(value)
    wp_broken = wikitext.is_wikipedia_value_broken(value)
    wp_prefix = F.regexp_replace(F.col("key"), ":wikipedia$", "")
    malformed_wp = F.when(
        is_wp & wp_broken & (F.col("key") == "wikipedia"),
        _err("malformed wikipedia tag",  # :621 via :587
             F.concat(F.lit("malformed value in wikipedia tag ("), value,
                      F.lit(") expected forma will be like en:Idaho - with language code, colon and article name")),
             prerequisite=pre_kv),
    ).when(
        is_wp & wp_broken & (F.col("key") != "wikipedia") & actual & F.col("key").endswith(":wikipedia"),
        _err(F.concat(F.lit("malformed secondary wikipedia tag - for "), wp_prefix, F.lit(" prefixed tags")),
             F.concat(F.lit("malformed value in "), F.col("key"), F.lit(" tag ("), value, F.lit(")")),
             prerequisite=pre_kv),
    ).when(
        is_wp & wp_broken & (F.col("key") != "wikipedia") & actual,
        _err(F.concat(F.lit("malformed secondary wikipedia tag for "), F.col("key"), F.lit(" tag")),
             F.concat(F.lit("malformed value in "), F.col("key"), F.lit(" tag ("), value, F.lit(")")),
             prerequisite=pre_kv),
    ).when(
        is_wp & ~wp_broken & F.array_contains(F.lit(wikitext.LANGUAGE_CODE_REDIRECTS), lang),
        _err("wikipedia tag using redirecting language code",  # :592
             F.concat(F.lit("language code ("), lang, F.lit(") in wikipedia tag ("), value,
                      F.lit(") points to redirecting language code, see "
                            "https://en.wikipedia.org/wiki/List_of_Wikipedias#Redirects")),
             prerequisite=_m(("wikipedia", value))),  # :594
    ).when(
        is_wp & ~wp_broken & ~F.array_contains(F.lit(LANGUAGE_CODES_BY_IMPORTANCE), lang),
        _err("malformed wikipedia tag - nonexisting language code",  # :598
             F.concat(F.lit("language code ("), lang, F.lit(") in wikipedia tag ("), value,
                      F.lit(") points to nonexisting Wikipedia")),
             prerequisite=_m(("wikipedia", value))),  # :600
    )

    # --- wikidata 404 (check_is_wikidata_page_existing :558-581); needs a join
    # trailing-';' multi-value tolerance mirrors the malformed check
    # (:1163-1164): strip one trailing ';' before splitting secondaries
    value_norm = F.when(
        value.endswith(";") & (F.size(F.split(value, ";", -1)) > 2),
        F.regexp_replace(value, ";$", ""),
    ).otherwise(value)
    parts = tagged.where(is_wd & actual & ~wd_broken & ~ety).select(
        "element_id", "key", "key_rank",
        F.posexplode(
            F.when(F.col("key") == "wikidata", F.array(F.col("value"))).otherwise(F.split(value_norm, ";", -1))
        ).alias("pos", "part"),
    )
    qids = dims.wikidata.select(F.col("qid").alias("part")).withColumn("found", F.lit(True))
    missing = (
        parts.join(F.broadcast(qids), "part", "left")
        .where(F.col("found").isNull())
        .groupBy("element_id", "key", "key_rank")
        .agg(F.min_by("part", "pos").alias("missing_part"))
        .select(
            "element_id", "key_rank",
            F.lit(1).alias("check_rank"),
            F.when(
                F.col("key") == "wikidata",
                _err("wikidata tag links to 404",  # :567
                     F.concat(F.col("key"),
                              F.lit(" tag present on element points to not existing element (https://www.wikidata.org/wiki/"),
                              F.col("missing_part"), F.lit(")")),
                     prerequisite=_m((F.col("key"), F.col("missing_part")))),  # :580
            ).otherwise(
                _err("secondary wikidata tag links to 404",  # :569
                     F.concat(F.col("key"),
                              F.lit(" tag present on element points to not existing element (https://www.wikidata.org/wiki/"),
                              F.col("missing_part"), F.lit(")")),
                     prerequisite=_m((F.col("key"), F.col("missing_part")))),
            ).alias("err"),
        )
    )

    # --- wikipedia 404 (primary only, :366-369): closed-world pages lookup
    wp_page = tagged.where((F.col("key") == "wikipedia") & ~wp_broken).select(
        "element_id", "key_rank",
        lang.alias("lang"),
        wikitext.article_name_of(value).alias("raw_article"),
        wikitext.strip_section(wikitext.article_name_of(value)).alias("title"),
    )
    pages = dims.pages.select("lang", "title").withColumn("page_found", F.lit(True))
    # report_failed_wikipedia_page_link (:701-716): instructions + prerequisite
    # + a proposed retarget. In the closed-world model pages ARE the sitelink
    # table, so a 404'd article never has a QID -> the proposed target is null
    # (matching the reference when get_best_interwiki_link_by_id returns None).
    raw_link = F.concat(F.col("lang"), F.lit(":"), F.col("raw_article"))
    wp404 = (
        wp_page.join(F.broadcast(pages), ["lang", "title"], "left")
        .where(F.col("page_found").isNull())
        .select(
            "element_id", "key_rank", F.lit(3).alias("check_rank"),
            _err(
                "wikipedia tag links to 404",  # :713
                F.lit(""),
                prerequisite=_m(("wikipedia", raw_link)),  # :714
                proposed=_chg(_m(("wikipedia", raw_link)), _m(("wikipedia", None))),  # :715
                instructions=F.lit(
                    "Wikipedia article linked from OSM object using wikipedia tag is missing.\n"
                    "Often article was moved without leaving redirect and wikipedia tag should"
                    " be edited to point to the new one.\n"
                    "Article may be deleted and no longer existing, or link was never valid."
                    " In such cases wikipedia tag should be deleted."
                ),  # :703-706
            ).alias("err"),
        )
    )

    inline = tagged.select(
        "element_id", "key_rank",
        F.when(malformed_wd.isNotNull(), F.lit(0)).otherwise(F.lit(2)).alias("check_rank"),
        F.coalesce(malformed_wd, malformed_wp).alias("err"),
    ).where(F.col("err").isNotNull())

    all_errs = inline.unionByName(missing).unionByName(wp404)
    return all_errs.groupBy("element_id").agg(
        F.min_by("err", F.struct("key_rank", "check_rank")).alias("err")
    )


# ---------------------------------------------------------------- stage 2c

def _collision_errors(elements: DataFrame, dims: WikiDims, facts: DataFrame, bcast: bool = True) -> DataFrame:
    """check_for_wikipedia_wikidata_collision (:1017-1128) for the primary
    pair and every prefixed pair (:373-389) -> (element_id, err)."""
    pairs = elements.select(
        "element_id", "tags",
        F.explode(F.filter(F.array_sort(F.map_keys("tags")), lambda k: k.contains("wikidata"))).alias("wd_key"),
    ).withColumn("wp_key", F.regexp_replace("wd_key", "wikidata", "wikipedia"))
    pairs = pairs.where(F.map_contains_key("tags", F.col("wp_key")))
    pairs = pairs.select(
        "element_id",
        "wd_key", "wp_key",
        F.element_at("tags", F.col("wd_key")).alias("wd_val"),
        F.element_at("tags", F.col("wp_key")).alias("wp_val"),
        # primary pair is checked first (:378-382)
        F.when(F.col("wd_key") == "wikidata", F.lit(-1)).otherwise(
            F.array_position(F.array_sort(F.map_keys("tags")), F.col("wd_key"))
        ).alias("pair_rank"),
    )
    prefix = F.regexp_replace(F.col("wd_key"), ":wikidata$", "")
    pairs = pairs.where(
        ~wikitext.is_qid_part_broken(F.col("wd_val"))  # skip broken/multi (:1021)
        & (prefix != "not")                            # :1030-1034
    )
    pairs = pairs.withColumn("lang", wikitext.lang_code_of(F.col("wp_val"))).withColumn(
        "article", wikitext.article_name_of(F.col("wp_val"))
    )
    pairs = pairs.where(F.col("article").isNotNull())  # :1039-1040
    pairs = pairs.withColumn("article_stripped", wikitext.strip_section(F.col("article")))

    p_art = dims.pages.select(
        F.col("lang"), F.col("title").alias("article_stripped"), F.col("qid").alias("qid_article")
    )
    pairs = pairs.join(F.broadcast(p_art), ["lang", "article_stripped"], "left")

    qr = dims.qid_redirects.select(F.col("from_qid").alias("wd_val"), F.col("to_qid").alias("wd_redirected"))
    pairs = pairs.join(F.broadcast(qr), "wd_val", "left")

    pr = dims.page_redirects.select(
        F.col("lang"), F.col("from_title").alias("article"), F.col("to_title").alias("redir_title")
    )
    pairs = pairs.join(F.broadcast(pr), ["lang", "article"], "left")
    p_red = dims.pages.select(
        F.col("lang"), F.col("title").alias("redir_title"), F.col("qid").alias("qid_redirect")
    )
    pairs = pairs.join(F.broadcast(p_red), ["lang", "redir_title"], "left")

    pairs = pairs.join(
        _maybe_broadcast(facts.select(F.col("qid").alias("qid_article"),
                                      F.col("is_disambig").alias("article_disambig")), bcast),
        "qid_article", "left",
    )
    # the wikidata side: its disambig flag and its best interwiki (for the
    # disambig retarget, :1090)
    pairs = pairs.join(
        _maybe_broadcast(facts.select(F.col("qid").alias("wd_val"), F.col("is_disambig").alias("wd_disambig"),
                                      F.col("best_link").alias("wd_side_best_link")), bcast),
        "wd_val", "left",
    )

    sfx = F.when(F.col("wd_key") == "wikidata", F.lit("")).otherwise(
        F.concat(F.lit(" - for "), prefix, F.lit(" prefixed tags"))
    )
    mismatch = ~F.col("wd_val").eqNullSafe(F.col("qid_article"))
    is_redirected = (
        F.col("redir_title").isNotNull()
        & (F.col("redir_title") != F.col("article"))
        & ~F.col("article").contains("#")
    )
    wp_link = F.concat(F.col("lang"), F.lit(":"), F.col("article"))
    pre = _m((F.col("wd_key"), F.col("wd_val")), (F.col("wp_key"), wp_link))
    base_message = F.concat(
        F.col("wd_key"), F.lit(" and "), F.col("wp_key"), F.lit(" tags link to a different objects")
    )
    compare = F.concat(
        F.coalesce(F.col("wd_val"), F.lit("(missing)")), F.lit(" vs "),
        F.coalesce(F.col("qid_article"), F.lit("(missing)")),
    )  # compare_wikidata_ids (:1142-1147)
    # NOTE: in the disambig branch the reference reuses the *stale*
    # wikidata-redirect common_message as instructions (:1050, :1092-1098)
    wd_redirect_instr = F.concat(
        base_message, F.lit(", because "), F.col("wd_key"),
        F.lit(" tag points to a redirect that should be followed"),
    )
    err = F.when(
        mismatch
        & F.col("wd_redirected").isNotNull() & (F.col("wd_redirected") != F.col("wd_val"))
        & F.col("wd_redirected").eqNullSafe(F.col("qid_article")),
        _err(F.concat(F.lit("wikipedia wikidata mismatch - follow wikidata redirect"), sfx),  # :1056
             compare, prerequisite=pre, instructions=wd_redirect_instr),  # :1057-1059
    ).when(
        mismatch & is_redirected & F.col("wd_val").eqNullSafe(F.col("qid_redirect")),
        _err(F.concat(F.lit("wikipedia wikidata mismatch - follow wikipedia redirect"), sfx),  # :1081
             F.concat(compare, F.lit(" article redirects from "), wp_link, F.lit(" to "),
                      F.col("lang"), F.lit(":"), F.col("redir_title")),  # :1077-1078
             prerequisite=pre,
             proposed=_chg(
                 _m((F.col("wp_key"), wp_link)),
                 _m((F.col("wp_key"), F.concat(F.col("lang"), F.lit(":"), F.col("redir_title")))),
             ),  # :1085
             instructions=F.concat(
                 base_message, F.lit(", because "), F.col("wp_key"),
                 F.lit(" tag points to a redirect that should be followed"))),
    ).when(
        mismatch & F.coalesce("article_disambig", F.lit(False)) & ~F.coalesce("wd_disambig", F.lit(False)),
        _err(
            F.concat(F.lit("wikipedia wikidata mismatch - wikipedia points to disambiguation page and wikidata does not"), sfx),  # :1092
            F.concat(F.lit("article claims to point to disambig, "), F.col("wd_key"),
                     F.lit(" does not. "), F.col("wd_key"), F.lit(" tag is likely to be correct, "),
                     F.col("wp_key"), F.lit(" tag almost certainly is not")),  # :1091
            prerequisite=pre,
            proposed=_chg(_m((F.col("wp_key"), wp_link)), _m((F.col("wp_key"), F.col("wd_side_best_link")))),  # :1096
            instructions=wd_redirect_instr,
        ),
    ).when(
        mismatch,
        _err(F.concat(F.lit("wikipedia wikidata mismatch"), sfx),  # :1125
             F.concat(
                 base_message, F.lit(" ("), compare,
                 F.lit(" wikidata id assigned to linked Wikipedia article)"),
                 F.when(  # :1120-1122
                     F.col("wd_redirected").isNotNull() & (F.col("wd_redirected") != F.col("wd_val")),
                     F.concat(F.lit(" Note that this OSM object has "), F.col("wd_key"),
                              F.lit(" tag links a redirect ("), F.col("wd_val"),
                              F.lit(" to "), F.col("wd_redirected"), F.lit(").")),
                 ).otherwise(F.lit("")),
                 F.when(  # :1123-1125
                     is_redirected,
                     F.concat(F.lit(" Note that this OSM object has "), F.col("wp_key"),
                              F.lit(" tag that links redirect ('"), F.col("article"),
                              F.lit("' to '"), F.col("redir_title"), F.lit("').")),
                 ).otherwise(F.lit("")),
             ),
             prerequisite=pre),
    )
    return (
        pairs.select("element_id", "pair_rank", err.alias("err"))
        .where(F.col("err").isNotNull())
        .groupBy("element_id")
        .agg(F.min_by("err", F.col("pair_rank")).alias("err"))
    )


def ser_map_col(m: Column) -> Column:
    """Canonical map serialization (sorted 'k=v' joined by '|', null value ->
    '∅') — must agree byte-for-byte with sources.synthetic.ser_map so the
    driver's DuckDB oracle can compare payloads as plain strings."""
    return F.when(
        m.isNotNull(),
        F.concat_ws("|", F.transform(
            F.array_sort(F.map_keys(m)),
            lambda k: F.concat(k, F.lit("="), F.coalesce(F.element_at(m, k), F.lit("∅"))),
        )),
    )


def ser_changes_col(c: Column) -> Column:
    """Canonical proposed_tagging_changes serialization (synthetic.ser_changes)."""
    return F.when(
        c.isNotNull(),
        F.concat_ws(";;", F.transform(
            c,
            lambda ch: F.concat(F.lit("from{"), F.coalesce(ser_map_col(ch["from"]), F.lit("")),
                                F.lit("}to{"), F.coalesce(ser_map_col(ch["to"]), F.lit("")), F.lit("}")),
        )),
    )


def _disambig_fix_lists(cand: DataFrame, dims: WikiDims, bcast: bool) -> DataFrame:
    """get_list_of_disambig_fixes (:1387-1410): cand(element_id, lat, lon,
    best_link) -> (element_id, disambig_list): outlinks of the disambig
    page's best-interwiki article, each line
    'title[ is N km away| <no location data on wikidata>]\\n'. Listed in
    canonical title order (the reference uses API response order)."""
    c = cand.withColumn("d_lang", wikitext.lang_code_of(F.col("best_link"))).withColumn(
        "d_title", wikitext.article_name_of(F.col("best_link"))
    )
    links = dims.disambig_links.where(F.col("ns") == 0).select(  # ns=0 only, :1358-1360
        F.col("lang").alias("d_lang"), F.col("title").alias("d_title"), "out_title"
    )
    # same size gate as the facts joins: at snapshot scale these dims are
    # tens of millions of rows — broadcasting them unconditionally would
    # materialize them on the driver (round-2 advice)
    c = c.join(_maybe_broadcast(links, bcast), ["d_lang", "d_title"], "left")
    pages = dims.pages.select(
        F.col("lang").alias("d_lang"), F.col("title").alias("out_title"), F.col("qid").alias("out_qid")
    )
    c = c.join(_maybe_broadcast(pages, bcast), ["d_lang", "out_title"], "left")
    locs = dims.wikidata.select(
        F.col("qid").alias("out_qid"), F.col("lat").alias("o_lat"), F.col("lon").alias("o_lon")
    )
    c = c.join(_maybe_broadcast(locs, bcast), "out_qid", "left")
    dist = haversine_km_col(F.col("lat"), F.col("lon"), F.col("o_lat"), F.col("o_lon"))
    # distance_in_km_to_string (:1362-1366) + description (:1378-1385)
    desc = (
        F.when(F.col("lat").isNull() | F.col("lon").isNull(), F.lit(" <no location data>"))
        .when(F.col("out_qid").isNull() | F.col("o_lat").isNull(), F.lit(" <no location data on wikidata>"))
        .otherwise(F.concat(
            F.lit(" is "),
            F.when(dist > 3, F.concat(F.floor(dist).cast("long").cast("string"), F.lit(" km")))
            .otherwise(F.concat(F.floor(dist * 1000).cast("long").cast("string"), F.lit(" m"))),
            F.lit(" away"),
        ))
    )
    line = F.concat(F.col("out_title"), desc, F.lit("\n"))
    return c.groupBy("element_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(F.col("out_title").isNotNull(),
                                                   F.struct(F.col("out_title").alias("t"), line.alias("l"))))),
                lambda s: s["l"],
            ), "",
        ).alias("disambig_list")
    )


def _replace_prereq_hack(err: Column) -> Column:
    """replace_prerequisites_to_match_actual_tags (:425-443, SURVEY.md P19):
    when the report's prerequisite names 'wikidata' but the element has no
    wikidata tag (the qid was derived from the wikipedia tag), swap the
    prerequisite to the actual wikipedia tag. Requires `tags` in scope."""
    pre = err["prerequisite"]
    applicable = (
        err.isNotNull() & pre.isNotNull() & F.map_contains_key(pre, "wikidata")
        & ~F.map_contains_key(F.col("tags"), "wikidata")
        & F.map_contains_key(F.col("tags"), "wikipedia")
    )
    new_pre = F.map_concat(
        F.map_filter(pre, lambda k, v: (k != "wikidata") & (k != "wikipedia")),
        F.create_map(F.lit("wikipedia"), F.element_at(F.col("tags"), "wikipedia")),
    ).cast(MAP_TYPE)
    return F.when(
        applicable,
        _err(err["error_id"], err["error_message"], prerequisite=new_pre,
             proposed=err["proposed_tagging_changes"],
             instructions=err["error_general_intructions"]),
    ).otherwise(err)


# =====================================================================
# main pipeline
# =====================================================================

def resolve(elements: DataFrame, dims: WikiDims, cfg: ResolveConfig | None = None) -> DataFrame:
    """elements(element_id, object_type, tags, lat, lon) -> one row per
    element that has a report: (element_id, error_id, error_message).

    Mirrors get_the_most_important_problem_generic (:275-298): the coalesce
    order IS the reference's short-circuit priority.
    """
    cfg = cfg or ResolveConfig()
    spark = elements.sparkSession

    # an eager localCheckpoint, not persist(): a persisted frame stays in the
    # session's CacheManager after the call, pinning its blocks; checkpointed
    # blocks are released with the frame. The closure under the facts is
    # localCheckpoint'ed already, so this adds no new unrecoverable-block
    # exposure (see the closure module docstring).
    facts = build_qid_facts(dims, cfg).localCheckpoint()
    # size gate: above the threshold every facts-side join is a shuffle hash
    bcast = facts.count() <= _FACTS_BROADCAST_THRESHOLD
    bi = facts.select("qid", "best_link")

    base = elements.where(~F.coalesce(_should_be_deleted(), F.lit(False)))  # :276-277
    base = base.withColumn("wikipedia", _tag("wikipedia")).withColumn("wikidata", _tag("wikidata"))
    base = base.withColumn("wp_lang", wikitext.lang_code_of(F.col("wikipedia"))).withColumn(
        "wp_article", wikitext.article_name_of(F.col("wikipedia"))
    )
    # qid from the primary wikipedia link (get_wikidata_object_id_from_link)
    p = dims.pages.select(
        F.col("lang").alias("wp_lang"), F.col("title").alias("wp_article"), F.col("qid").alias("qid_from_wp")
    )
    base = base.join(F.broadcast(p), ["wp_lang", "wp_article"], "left")
    base = base.withColumn("effective_wd", F.coalesce("wikidata", "qid_from_wp"))  # :416-423

    # the one element-level facts lookup, as eff_<fact>; the wikidata tag's
    # own facts are the same row whenever the tag is set
    eff = facts.select(F.col("qid").alias("effective_wd"), *[F.col(c).alias(f"eff_{c}") for c in FACTS_COLS])
    base = base.join(_maybe_broadcast(eff, bcast), "effective_wd", "left")
    for c in ("best_link", "teryt_simc"):
        base = base.withColumn(f"wd_{c}", F.when(F.col("wikidata").isNotNull(), F.col(f"eff_{c}")))

    # taxon-prefix qid resolution (:1785-1789) + slim taxonomy facts
    for pfx in ("species:", "taxon:", "genus:"):
        name = pfx.rstrip(":")
        wp = _tag(pfx + "wikipedia")
        lang_c = wikitext.lang_code_of(wp)
        art_c = wikitext.article_name_of(wp)
        base = base.withColumn(f"__{name}_lang", lang_c).withColumn(f"__{name}_art", art_c)
        pg = dims.pages.select(
            F.col("lang").alias(f"__{name}_lang"), F.col("title").alias(f"__{name}_art"),
            F.col("qid").alias(f"{name}_wp_qid"),
        )
        base = base.join(F.broadcast(pg), [f"__{name}_lang", f"__{name}_art"], "left")
        base = base.withColumn(
            f"__tx_{name}_qid", F.coalesce(_tag(pfx + "wikidata"), F.col(f"{name}_wp_qid"))
        )
        slim = facts.select(
            F.col("qid").alias(f"__tx_{name}_qid"),
            F.col("p105_qids").alias(f"tx_{name}_p105_qids"),
            F.col("is_taxon").alias(f"tx_{name}_is_taxon"),
        )
        base = base.join(_maybe_broadcast(slim, bcast), f"__tx_{name}_qid", "left")
        base = base.withColumn(
            f"tx_{name}_is_taxon", F.coalesce(f"tx_{name}_is_taxon", F.lit(False))
        )

    # ---- stage 1: teryt override (:279-281)
    err1 = _teryt_err()

    # ---- stage 2: critical structural (:283-288)
    e2a = _old_style_errors(elements, dims, bi, bcast).withColumnRenamed("err", "err_2a")
    e2b = _per_key_errors(elements, dims).withColumnRenamed("err", "err_2b")
    e2c = _collision_errors(elements, dims, facts, bcast).withColumnRenamed("err", "err_2c")
    base = base.join(e2a, "element_id", "left").join(e2b, "element_id", "left").join(e2c, "element_id", "left")
    # the '#' post-rewrite (:285-288)
    base = base.withColumn(
        "err_2c",
        F.when(
            (F.col("err_2c.error_id") == "wikipedia wikidata mismatch")
            & F.coalesce(F.col("wikipedia").contains("#"), F.lit(False)),
            _err("wikipedia wikidata mismatch, wikipedia links to section - high risk of false positive",
                 F.col("err_2c.error_message")),
        ).otherwise(F.col("err_2c")),
    )

    # ---- stage 3: freely reorderable (:445-537)
    fixme = F.when(
        F.map_contains_key("tags", "fixme:wikipedia"),
        _err("something is wrong with wikipedia tag - fixme:wikipedia is present",  # :448
             F.lit("see fixme:wikipedia tag for hints"),
             # [sic] the reference stores tags['wikipedia'] (not the fixme value), :450
             prerequisite=_m(("fixme:wikipedia", F.col("wikipedia")))),
    )

    whitelisted = F.col("effective_wd").isin(knowledge.skipped_cases())  # :460-461

    # get_effective_wikipedia_tag (:410-414): the wikipedia tag, else the
    # best interwiki of the wikidata tag
    effective_wp = F.coalesce(F.col("wikipedia"), F.col("wd_best_link"))

    bl = knowledge.blacklist_df(spark).withColumnRenamed("qid", "effective_wd").withColumnRenamed("prefix", "bl_prefix")
    base = base.join(F.broadcast(bl), "effective_wd", "left")
    blacklist_err = F.when(
        F.col("bl_prefix").isNotNull(),
        _err("blacklisted connection with known replacement",  # :552
             F.concat(F.lit("it is a typical wrong link and it has an obvious replacement, "),
                      F.col("bl_prefix"), F.lit("wikipedia/"), F.col("bl_prefix"),
                      F.lit("wikidata should be used instead")),
             prerequisite=_m(("wikipedia", effective_wp), ("wikidata", F.col("wikidata")))),  # :554
    )

    board = F.when(
        (_tag("information") == "board") & F.col("wikipedia").isNotNull(),
        _err("information board with wikipedia tag, not subject:wikipedia",  # :470
             F.lit("information board topic must be tagged with subject:wikipedia tag - not with wikipedia tag"),
             prerequisite=_m(("wikipedia", F.col("wikipedia")), ("information", _tag("information")))),  # :472
    ).when(
        (_tag("information") == "board") & F.col("wikidata").isNotNull(),
        _err("information board with wikidata tag, not subject:wikidata",  # :476
             F.lit("information board topic must be tagged with subject:wikidata tag - not with wikipedia tag"),
             prerequisite=_m(("wikidata", F.col("wikidata")), ("information", _tag("information")))),  # :478
    )

    # not:* contradiction (:481-493) — pure map expression, no explode
    not_keys = F.filter(
        F.map_keys("tags"),
        lambda k: k.startswith("not:")
        & (k.contains("wikipedia") | k.contains("wikidata"))
        & F.element_at("tags", k.substr(F.lit(5), F.length(k))).isNotNull()
        & (F.element_at("tags", k.substr(F.lit(5), F.length(k))) == F.element_at("tags", k)),
    )
    not_key = F.array_min(not_keys)
    checked_key = not_key.substr(F.lit(5), F.length(not_key))
    not_val = F.element_at("tags", not_key)
    not_err = F.when(
        F.size(not_keys) > 0,
        _err("wikipedia/wikidata type tag that is incorrect according to not:* tag",  # :488
             F.concat(checked_key, F.lit("="), F.element_at("tags", checked_key),
                      F.lit(" is present despite that "), not_key, F.lit("="), not_val,
                      F.lit(" is also present - at least one of them is wrong")),  # :489
             prerequisite=_m((checked_key, F.element_at("tags", checked_key)), (not_key, not_val))),  # :490
    )

    # wikidata-semantics block (:495-501 → get_problem_based_on_wikidata_base_types)
    tag_summary = _summary_of_tags(F.col("wikidata"), F.col("wikipedia"))
    pre_eff_wd = _m(("wikidata", F.col("effective_wd")))
    # distance-annotated disambig outlink list (:1746-1747 via :1387-1410)
    if dims.disambig_links is not None:
        dlists = _disambig_fix_lists(
            base.where(F.col("eff_is_disambig")).select(
                "element_id", "lat", "lon", F.col("eff_best_link").alias("best_link")),
            dims, bcast,
        )
        base = base.join(dlists, "element_id", "left")
    else:
        base = base.withColumn("disambig_list", F.lit(None).cast("string"))
    disambig_err = F.when(
        F.col("eff_is_disambig"),
        _err("link to a disambiguation page",  # :1749
             F.concat(
                 F.lit("link leads to a disambig page - not a proper wikipedia link "
                       "(according to Wikidata - if target is not a disambig check Wikidata "
                       "entry whether it is correct)\n\n"),  # :1747
                 F.coalesce(F.col("disambig_list"), F.lit("")),
             ),
             prerequisite=pre_eff_wd),  # :1751
    ).when(
        F.col("eff_is_list") & ~F.coalesce(F.col("wikipedia").contains("#"), F.lit(False)),  # :497-501 suppression
        _err("link to a list",  # :1756
             F.lit("article linked in wikipedia tag is a list, so it is very unlikely to be correct"),
             prerequisite=pre_eff_wd),  # :1758
    )

    # unlinkable-as-primary (:1480-1533) with tag exemptions (:1512-1522)
    unlink_exempt = (
        ((F.col("eff_unlink_what") == "a human") & _tag("boundary").eqNullSafe("aboriginal_lands"))
        | ((F.col("eff_unlink_what") == "a bicycle sharing system") & _tag("type").eqNullSafe("network"))
        | F.col("eff_is_ambiguous_item")
        | F.coalesce(
            F.col("effective_wd").isin(["Q5338613", "Q5371519"] + knowledge.ontology_ignore_list()),
            F.lit(False),
        )
    )
    unlink_err = F.when(
        F.col("eff_unlink_what").isNotNull() & ~unlink_exempt,
        _err(
            F.concat(F.lit("should use a secondary wikipedia tag - linking from "),
                     tag_summary, F.lit(" tag to "), F.col("eff_unlink_what")),  # :1340
            _subject_message(F.col("eff_unlink_what"), F.col("eff_unlink_replacement"),
                             F.col("effective_wd"), F.col("eff_best_link")),  # :1311-1327
            prerequisite=pre_eff_wd,  # :1342
        ),
    )

    # property-based unlinkable (:1421-1431): special_prefix is 'name:'
    prop_err = F.when(
        F.col("eff_has_p247"),
        _err(F.concat(F.lit("should use a secondary wikipedia tag - linking from "),
                      tag_summary, F.lit(" tag to a spacecraft")),
             _subject_message(F.lit("a spacecraft"), F.lit("name:"),
                              F.col("effective_wd"), F.col("eff_best_link")),
             prerequisite=pre_eff_wd),
    ).when(
        F.col("eff_has_p279_claim"),
        _err(F.concat(F.lit("should use a secondary wikipedia tag - linking from "),
                      tag_summary, F.lit(" tag to an uncoordinable generic object")),
             _subject_message(F.lit("an uncoordinable generic object"), F.lit("name:"),
                              F.col("effective_wd"), F.col("eff_best_link")),
             prerequisite=pre_eff_wd),
    )

    # headquarters distance (:1880-1895): any P159 location > 20 km away
    # under the Karney kernel. Gated on reducible_to_point (P2): a route
    # relation or river has no single location, so its anchor coordinate
    # must not drive the check. A column below the brand join, so the final
    # filter and select share one evaluation of the UDF
    base = base.withColumn("hq_far", F.when(
        reducible_to_point()
        & F.col("lat").isNotNull() & F.col("eff_hq_lats").isNotNull() & ~F.col("eff_has_area"),
        F.pandas_udf(_any_hq_far, "boolean")(
            F.col("lat"), F.col("lon"), F.col("eff_hq_lats"), F.col("eff_hq_lons")),
    ).otherwise(F.lit(False)))
    hq_err = F.when(
        F.col("hq_far"),
        _err(F.concat(F.lit("should use a secondary wikipedia tag - linking from "),
                      tag_summary, F.lit(" tag to a company that has multiple locations")),  # :1893
             _subject_message(F.lit("a company that has multiple locations"), F.lit("brand:"),
                              F.col("effective_wd"), F.col("eff_best_link")),
             prerequisite=pre_eff_wd),
    )

    # taxon checks (:1772-1830): species:/genus: via P105, taxon: via ontology
    taxon_errs = []
    for pfx, expected, via in (("species:", "Q7432", "p105"), ("taxon:", "Q16521", "ont"), ("genus:", "Q34740", "p105")):
        name = pfx.rstrip(":")
        qid_col = F.col(f"__tx_{name}_qid")
        applicable = qid_col.isNotNull() & ~qid_col.contains(";")  # :1792-1794
        # prerequisite (:1800, :1808, :1829): both prefixed tags, raw values
        pre_tx = _m((pfx + "wikidata", _tag(pfx + "wikidata")), (pfx + "wikipedia", _tag(pfx + "wikipedia")))
        if via == "p105":
            eid = f"{name} secondary tag links something that is not {name} according to wikidata (checking P105)"
            err = F.when(
                applicable & F.col(f"tx_{name}_p105_qids").isNull(),
                _err(eid, "no P105", prerequisite=pre_tx),  # :1796-1801
            ).when(
                applicable & ~F.array_contains(F.coalesce(f"tx_{name}_p105_qids", F.array()), expected),
                _err(eid, "no matching P105", prerequisite=pre_tx),  # :1802-1809
            )
        else:
            eid = f"{name} secondary tag links something that is not {name} according to wikidata (checking regular ontology)"
            err = F.when(applicable & ~F.col(f"tx_{name}_is_taxon"), _err(eid, eid, prerequisite=pre_tx))  # :1822-1830
        taxon_errs.append(err)

    semantics_err = F.coalesce(disambig_err, unlink_err, prop_err, hq_err, *taxon_errs)

    # language issues (:1211-1308). expected_language_code None -> only the
    # bot-wikipedia (ceb) check applies (:1224-1232).
    cur_lang = F.col("wp_lang")
    bot = cur_lang == "ceb"
    lang_pre = _m(("wikipedia", F.col("wikipedia")), ("wikidata", F.col("wikidata")))  # :1213
    botpedia_msg = F.concat(F.lit("wikipedia page in unexpected language - "), cur_lang,
                            F.lit(" is a low quality, bot generated wikipedia - it should not be linked"))
    bot_err = _err("wikipedia tag links bot wikipedia", botpedia_msg, prerequisite=lang_pre)  # :1227
    if cfg.expected_language_code is None:
        lang_err = F.when(F.col("wikipedia").isNotNull() & bot, bot_err)
    else:
        enforced = knowledge.official_language_countries(cfg.expected_language_code)
        recommended = F.col("eff_sitelink_expected")
        # why_object_is_allowed_to_have_foreign_language_label (:2657-2682):
        # allowed iff no wikidata entry, OR the FIRST current (non-P582)
        # country outside the enforced set exists AND (it has no English
        # label on Wikidata (:2673-2675) OR it is not Q7318 — the reference's
        # Nazi-Germany carve-out, :2676-2680; the label check precedes the
        # Q7318 check, so a label-less Q7318 is still allowed). Missing or
        # empty P17 -> NOT allowed (:2667-2669 returns None).
        foreign = F.filter(
            F.coalesce("eff_countries", F.array().cast("array<string>")),
            lambda cq: ~cq.isin(enforced or ["__none__"]),
        )
        base = base.withColumn("__ff_qid", F.try_element_at(foreign, F.lit(1)))
        ff_labels = dims.wikidata.where(F.col("label_en").isNotNull()).select(
            F.col("qid").alias("__ff_qid"), F.lit(True).alias("__ff_has_label")
        )
        base = base.join(_maybe_broadcast(ff_labels, bcast), "__ff_qid", "left")
        allowed_foreign = (
            F.col("effective_wd").isNull()
            | (
                (F.size(foreign) > 0)
                & (F.col("__ff_has_label").isNull() | (F.col("__ff_qid") != "Q7318"))
            )
        )
        good_link = F.concat(F.lit(cfg.expected_language_code), F.lit(":"), recommended)  # :1245
        lang_proposed = _chg(_m(("wikipedia", F.col("wikipedia"))), _m(("wikipedia", good_link)))
        lang_err = F.when(
            F.col("wikipedia").isNull(), F.lit(None).cast(ERR_SCHEMA)
        ).when(
            recommended.isNull(), F.when(bot, bot_err)  # :1235-1242
        ).when(
            cur_lang == cfg.expected_language_code, F.lit(None).cast(ERR_SCHEMA)  # :1245-1247
        ).when(
            allowed_foreign,
            F.when(bot, _err("wikipedia tag links bot wikipedia in border region, can be changed to alternative",  # :1263
                             botpedia_msg, prerequisite=lang_pre)),  # cur != recommended lang here
        ).when(
            bot,
            _err("wikipedia tag links bot wikipedia",  # :1280
                 F.concat(botpedia_msg, F.lit(" fortunately, in this case, a potential replacement exists")),
                 prerequisite=lang_pre, proposed=lang_proposed),  # :1282-1283
        ).otherwise(
            _err("wikipedia tag unexpected language",  # :1286
                 F.concat(F.lit("wikipedia page in unexpected language - "),
                          F.lit(cfg.expected_language_code), F.lit(" was expected:")),
                 prerequisite=lang_pre, proposed=lang_proposed),  # :1288-1289
        )
    # whole semantics block suppressed for special-skip qids (:1486-1498 via unlink only;
    # disambig/list/property checks are not — but ambiguous-item & ignore apply to unlink only)

    # existence (:507-509, :721-733) on the EFFECTIVE qid
    exist_err = F.when(
        F.col("eff_dissolved") & F.col("effective_wd").isNotNull(),
        _err("no longer existing object (according to Wikidata)",  # :729
             F.lit(""),  # :727 — the detail lives in error_general_intructions
             prerequisite=pre_eff_wd,  # :732
             instructions=F.lit(
                 "Wikidata claims that this object no longer exists. Historical, no longer"
                 " existing object should not be mapped in OSM (except temporary marking to"
                 " avoid remapping them from aerial imagery or similar sources) - so it means"
                 " that either Wikidata is mistaken or has only partial data - for example it"
                 " is fine to link ruins of a church to its wikipedia entry ( see"
                 " https://www.wikidata.org/w/index.php?title=Wikidata:Project_chat&oldid=1361617968#Tagging_ruins/remains_left_after_object"
                 " ) or wikipedia/wikidata tag is wrong or OSM has an outdated object that"
                 " should be removed. " + DATA_QUALITY_WARNING)),  # :726
    )

    # brand dissolved (:511-514, :752-793) — needs explode over ';' values
    brand_err_df = _brand_errors(elements, facts, bcast)
    base = base.join(brand_err_df, "element_id", "left")

    # [sic] the reference stores bridge:wikipedia's value under BOTH keys (:520)
    bridge_pre = _m(("bridge:wikipedia", _tag("bridge:wikipedia")),
                    ("bridge:wikidata", _tag("bridge:wikipedia")))
    bridge_err = F.when(
        F.map_contains_key("tags", "bridge:wikipedia") & F.map_contains_key("tags", "bridge:wikidata"),
        _err("bridge:wikipedia and bridge:wikidata - move to bridge outline",  # :518
             F.lit("bridge:wikipedia and bridge:wikidata links should be tagged on man_made=bridge"
                   " outline - without prefixes as wikipedia=* and wikidata=*, not on way across"
                   " bridge. man_made=bridge object may be missing and it may be necessary to draw"
                   " it, it may be useful to move also some other bridge tags"),  # :519
             prerequisite=bridge_pre),
    ).when(
        F.map_contains_key("tags", "bridge:wikipedia"),
        _err("bridge:wikipedia - move to bridge outline",  # :525
             F.lit("bridge:wikipedia link should be tagged on man_made=bridge outline - without"
                   " prefix, as just wikipedia=*, not on way across bridge. man_made=bridge object"
                   " may be missing and it may be necessary to draw it, it may be useful to move"
                   " also some other bridge tags"),  # :526
             prerequisite=bridge_pre),
    ).when(
        F.map_contains_key("tags", "bridge:wikidata"),
        _err("bridge:wikipedia and bridge:wikidata - move to bridge outline",  # :532
             F.lit("bridge:wikidata link should be tagged on man_made=bridge outline - without"
                   " prefix, as just wikidata=*, not on way across bridge. man_made=bridge object"
                   " may be missing and it may be necessary to draw it, it may be useful to move"
                   " also some other bridge tags"),  # :533
             prerequisite=bridge_pre),
    )

    err3 = F.coalesce(
        fixme,
        F.when(whitelisted, F.lit(None).cast(ERR_SCHEMA)).otherwise(
            F.coalesce(_replace_prereq_hack(blacklist_err), board, not_err,
                       _replace_prereq_hack(semantics_err), lang_err,
                       exist_err, F.col("brand_err"), bridge_err)
        ),
    )
    # NOTE: fixme precedes the whitelist (reference order :446-461); the
    # whitelist suppresses only the remainder of stage 3. The P19 prerequisite
    # rewrite (:425-443) applies exactly where the reference applies it:
    # blacklist (:465) and the wikidata-semantics block (:501).

    # ---- stage 4: completion (:392-408)
    wd_from_wp = F.when(
        F.col("wikidata").isNull() & F.col("qid_from_wp").isNotNull(),
        _err("wikidata from wikipedia tag",  # :675
             F.concat(F.col("qid_from_wp"), F.lit(" may be added as wikidata tag based on wikipedia tag")),
             prerequisite=_m(("wikipedia", F.col("wikipedia")), ("wikidata", None))),  # :678
    )
    has_old_style = F.exists(F.map_keys("tags"), lambda k: k.contains("wikipedia:"))
    bi_lang = wikitext.lang_code_of(F.col("wd_best_link"))
    wp_from_wd_pre = _m(("wikipedia", None), ("wikidata", F.col("wikidata")))  # :959, :966
    wp_from_wd_proposed = _chg(_m(("wikipedia", None)), _m(("wikipedia", F.col("wd_best_link"))))  # :960, :967
    wp_from_wd = F.when(
        F.col("wikipedia").isNull() & F.col("wikidata").isNotNull() & ~has_old_style
        & F.col("wd_best_link").isNotNull() & (bi_lang != "ceb"),
        F.when(
            F.lit(cfg.expected_language_code).isNotNull() & (bi_lang == F.lit(cfg.expected_language_code)),
            _err("wikipedia from wikidata tag",  # :957
                 F.lit("without wikipedia tag, without wikipedia:language tags, with wikidata tag"
                       " present that provides article, article language is not surprising"),  # :958
                 prerequisite=wp_from_wd_pre, proposed=wp_from_wd_proposed),
        ).otherwise(
            _err("wikipedia from wikidata tag, unexpected language",  # :964
                 F.lit("without wikipedia tag, without wikipedia:language tags, with wikidata tag"
                       " present that provides article"),  # :965
                 prerequisite=wp_from_wd_pre, proposed=wp_from_wd_proposed),
        ),
    )
    err4 = F.coalesce(wd_from_wp, wp_from_wd)

    final = base.withColumn(
        "err",
        F.coalesce(err1, F.col("err_2a"), F.col("err_2b"), F.col("err_2c"), err3, err4),
    )
    # bind_to_element (:25-31): tags, object url, location ride along with
    # every report row
    return final.where(F.col("err").isNotNull()).select(
        "element_id",
        F.col("err.error_id").alias("error_id"),
        F.col("err.error_message").alias("error_message"),
        F.col("err.error_general_intructions").alias("error_general_intructions"),
        F.col("err.prerequisite").alias("prerequisite"),
        F.col("err.proposed_tagging_changes").alias("proposed_tagging_changes"),
        F.concat(F.lit("https://www.openstreetmap.org/"), F.col("object_type"),
                 F.lit("/"), F.col("element_id")).alias("osm_object_url"),
        F.struct(F.col("lat"), F.col("lon")).alias("location"),
        F.col("tags").alias("tags"),
    )


def _brand_errors(elements: DataFrame, facts: DataFrame, bcast: bool = True) -> DataFrame:
    """check_is_object_brand_is_existing (:752-793) -> (element_id, brand_err)."""
    b = elements.where(_tag("brand:wikidata").isNotNull())
    main_tags = ["office", "shop", "leisure", "amenity"]
    defunct = F.lit(False)
    active = F.lit(False)
    for mt in main_tags:
        for pre in ["disused:", "abandoned:"]:
            defunct = defunct | _tag(pre + mt).isNotNull()
        if mt == "shop":
            defunct = defunct | (_tag(mt) == "vacant")
        active = active | (_tag(mt).isNotNull() & ~_tag(mt).isin("no", "vacant"))
    b = b.select(
        "element_id", defunct.alias("marked_defunct"), active.alias("marked_active"),
        _tag("brand:wikidata").alias("brand_tag"),
        F.posexplode(F.split(_tag("brand:wikidata"), ";", -1)).alias("pos", "qid"),
    )
    dis = facts.select("qid", "dissolved")
    agg = (
        b.join(_maybe_broadcast(dis, bcast), "qid", "left")
        .groupBy("element_id", "marked_defunct", "marked_active", "brand_tag")
        .agg(
            # deterministic split-order list (the reference iterates split(';')
            # order, :740-750): sort collected (pos, qid) structs then project
            F.array_sort(
                F.collect_list(F.when(F.col("dissolved"), F.struct("pos", "qid")))
            ).alias("dissolved_pq")
        )
        .withColumn("dissolved_qids", F.transform("dissolved_pq", lambda s: s["qid"]))
        .where(F.size("dissolved_qids") > 0)
    )
    state = F.when(
        F.col("marked_defunct") & ~F.col("marked_active"), F.lit(None).cast("string")  # :772-779
    ).when(
        ~F.col("marked_defunct") & F.col("marked_active"),
        F.lit("no longer existing brand (according to Wikidata) - and marked as active shop in OSM"),  # :780-781
    ).when(
        F.col("marked_defunct") & F.col("marked_active"),
        F.lit("no longer existing brand (according to Wikidata) - and marked as active shop in OSM, with tagging referring to defunct one"),  # :782-783
    ).otherwise(
        F.lit("no longer existing brand (according to Wikidata) - and tag processing has not worked well")  # :784-785
    )
    return agg.select(
        "element_id",
        F.when(
            state.isNotNull(),
            _err(state,
                 F.concat(F.lit("wikidata "), F.concat_ws(", ", "dissolved_qids"),
                          F.lit(" is marked as dissolved")),  # :770
                 prerequisite=_m(("wikidata", F.col("brand_tag"))),  # :792 [sic key 'wikidata']
                 instructions=F.lit(
                     "Wikidata claims that assigned brand object no longer exists. That means"
                     " that either this shop is gone or it is rebranded. Or brand:wikidata tag"
                     " is wrong. Historical, no longer existing object should not be mapped in"
                     " OSM. " + DATA_QUALITY_WARNING)),  # :768
        ).alias("brand_err"),
    ).where(F.col("brand_err").isNotNull())


def tag_from_wikidata_errors(
    elements: DataFrame,
    dims: WikiDims,
    pid: str,
    osm_key: str,
    id_suffix: str = "",
    message_suffix: str = "",
    allow_requesting_edits_outside_osm: bool = False,
) -> DataFrame:
    """generate_error_report_for_tag_from_wikidata (:795-820): propose adding
    an OSM tag from a wikidata property (first value), or flag a conflict
    between them (conflicts only when allow_requesting_edits_outside_osm —
    'typically Wikidata is wrong, not OSM', :812-814). Exported surface like
    the reference's; not part of the main resolve() flow there either.

    elements(element_id, object_type, tags, ...) -> report rows with the
    same payload schema as resolve()."""
    prop = (
        dims.claims.where((F.col("pid") == pid) & F.col("value_str").isNotNull())
        .groupBy("qid").agg(F.first("value_str").alias("from_wikidata"))
    )
    base = elements.where(_tag("wikidata").isNotNull()).withColumn("wikidata", _tag("wikidata"))
    base = base.join(
        F.broadcast(prop.withColumnRenamed("qid", "wikidata")), "wikidata"
    )
    current = _tag(osm_key)
    add_err = _err(
        "tag may be added based on wikidata" + id_suffix,  # :810
        F.concat(F.col("from_wikidata"),
                 F.lit(f" may be added as {osm_key} tag based on wikidata entry"
                       f"{message_suffix} " + DATA_QUALITY_WARNING)),
        prerequisite=_m(("wikidata", F.col("wikidata")), (osm_key, None)),  # :810
    )
    conflict_err = _err(
        "tag conflict with wikidata value" + id_suffix,  # :817
        F.concat(F.col("from_wikidata"), F.lit(" conflicts with "), current,
                 F.lit(f" for {osm_key} tag based on wikidata entry - note that OSM"
                       " value may be OK and Wikidata entry is wrong, in that case"
                       " one may either ignore this error or fix Wikidata entry"
                       f"{message_suffix} " + DATA_QUALITY_WARNING)),
        prerequisite=_m(("wikidata", F.col("wikidata")), (osm_key, current)),  # :820
    )
    err = F.when(current.isNull(), add_err)
    if allow_requesting_edits_outside_osm:
        err = err.when(current != F.col("from_wikidata"), conflict_err)
    return base.withColumn("err", err).where(F.col("err").isNotNull()).select(
        "element_id",
        F.col("err.error_id").alias("error_id"),
        F.col("err.error_message").alias("error_message"),
        F.col("err.error_general_intructions").alias("error_general_intructions"),
        F.col("err.prerequisite").alias("prerequisite"),
        F.col("err.proposed_tagging_changes").alias("proposed_tagging_changes"),
    )
