"""Ellipsoidal (Vincenty / Karney-parity) geodesic kernel: first-principles
properties, haversine-delta bounds at the 20 km J13 threshold, and J13
golden-case parity of the two WGS-84 kernels (round-2 verdict #7).

Ground-truth anchors that do not need geographiclib:
  - equatorial arc length is exactly a * dlon (the equator is a geodesic
    of the ellipsoid with radius a);
  - the WGS-84 quarter meridian is 10001.9657 km (the classic constant);
  - symmetry / identity / triangle sanity;
  - haversine agreement within the flattening bound (~0.56%).
"""

import numpy as np

from wikibrain_spark.geo.geodesic import (
    WGS84_A_KM,
    WGS84_F,
    ellipsoidal_km,
    haversine_km,
    karney_km,
    vincenty_km,
)


def test_equatorial_arc_exact():
    d, ok = vincenty_km([0.0], [10.0], [0.0], [57.3])
    assert ok.all()
    want = WGS84_A_KM * np.radians(47.3)
    assert abs(d[0] - want) < 1e-6


def test_quarter_meridian():
    d, ok = vincenty_km([0.0], [0.0], [90.0], [0.0])
    assert ok.all()
    assert abs(d[0] - 10001.9657) < 1e-3  # WGS-84 quarter meridian, km


def test_identity_and_symmetry():
    rng = np.random.default_rng(5)
    la1 = rng.uniform(-85, 85, 200)
    lo1 = rng.uniform(-180, 180, 200)
    la2 = rng.uniform(-85, 85, 200)
    lo2 = rng.uniform(-180, 180, 200)
    d0, ok0 = vincenty_km(la1, lo1, la1, lo1)
    assert ok0.all() and np.abs(d0).max() < 1e-9
    dab, oka = vincenty_km(la1, lo1, la2, lo2)
    dba, okb = vincenty_km(la2, lo2, la1, lo1)
    m = oka & okb
    assert m.mean() > 0.99  # random pairs are essentially never antipodal
    assert np.abs(dab[m] - dba[m]).max() < 1e-9


def test_haversine_agreement_within_flattening_bound():
    rng = np.random.default_rng(6)
    la1 = rng.uniform(-85, 85, 2000)
    lo1 = rng.uniform(-180, 180, 2000)
    la2 = rng.uniform(-85, 85, 2000)
    lo2 = rng.uniform(-180, 180, 2000)
    dv, ok = vincenty_km(la1, lo1, la2, lo2)
    dh = haversine_km(la1, lo1, la2, lo2)
    m = ok & (dh > 1.0)
    rel = np.abs(dv[m] - dh[m]) / dh[m]
    assert rel.max() < 0.0057  # WGS-84 flattening bound vs mean-radius sphere


def test_antipodal_fallback_flagged():
    d, ok = vincenty_km([30.0], [0.0], [-30.0], [179.99])
    # nearly antipodal: either converged (fine) or flagged + haversine value
    if not ok.all():
        assert abs(d[0] - haversine_km([30.0], [0.0], [-30.0], [179.99])[0]) < 1e-9


def test_documented_delta_at_20km_threshold():
    """The documented haversine-vs-ellipsoid divergence AT the J13 threshold:
    points exactly 20 km apart by haversine, measured ellipsoidally.
    The worst case is meridional at high latitude (~ +0.11 km / 0.56%);
    equatorial east-west pairs swing the other way (~ -0.07 km). A reference
    (Karney) report within (20 - 0.12, 20 + 0.12) km can therefore flip vs
    the haversine kernel — that is the documented residual, and the reason
    J13 measures with the WGS-84 Karney kernel instead."""
    rng = np.random.default_rng(7)
    n = 4000
    la1 = rng.uniform(-84, 84, n)
    lo1 = rng.uniform(-180, 180, n)
    bearing = rng.uniform(0, 2 * np.pi, n)
    # move ~20 km by haversine: solve on the sphere (exact for haversine)
    R = 6371.0088
    ang = 20.0 / R
    phi1 = np.radians(la1)
    lam1 = np.radians(lo1)
    phi2 = np.arcsin(np.sin(phi1) * np.cos(ang) + np.cos(phi1) * np.sin(ang) * np.cos(bearing))
    lam2 = lam1 + np.arctan2(
        np.sin(bearing) * np.sin(ang) * np.cos(phi1),
        np.cos(ang) - np.sin(phi1) * np.sin(phi2),
    )
    la2, lo2 = np.degrees(phi2), (np.degrees(lam2) + 540) % 360 - 180
    dh = haversine_km(la1, lo1, la2, lo2)
    assert np.abs(dh - 20.0).max() < 1e-6
    dv, ok = vincenty_km(la1, lo1, la2, lo2)
    assert ok.all()
    delta = dv - 20.0
    assert np.abs(delta).max() < 0.12, f"max delta {np.abs(delta).max():.4f} km"
    # and the bound is actually approached (the measurement is not vacuous)
    assert np.abs(delta).max() > 0.05


# ------------------------------------------------------------------ karney
# The quadrature-exact full-globe inverse (geodesic.karney_km). Anchors:
# Vincenty agreement on its convergence set, the same analytic constants,
# exactness on the equatorial-geodesic validity boundary (1-f)*pi, and the
# classic Vincenty-failure pair (0,0)->(0.5,179.7), whose geographiclib
# distance 19944.127421 km is the published GeographicLib inverse example.


def test_karney_matches_vincenty_where_it_converges():
    rng = np.random.default_rng(11)
    n = 1500
    la1 = rng.uniform(-89.9, 89.9, n)
    lo1 = rng.uniform(-180, 180, n)
    la2 = rng.uniform(-89.9, 89.9, n)
    lo2 = rng.uniform(-180, 180, n)
    dv, ok = vincenty_km(la1, lo1, la2, lo2)
    dk = karney_km(la1, lo1, la2, lo2)
    assert np.abs(dk[ok] - dv[ok]).max() < 1e-6  # < 1 mm


def test_karney_analytic_anchors():
    assert abs(karney_km(0, 0, 0, 90) - WGS84_A_KM * np.pi / 2) < 1e-9
    assert abs(karney_km(0, 0, 90, 0) - 10001.9657293) < 1e-6  # quarter meridian
    assert abs(karney_km(90, 0, -90, 0) - 20003.9314586) < 1e-6  # pole to pole
    # the equatorial ANTIPODAL geodesic leaves the equator and goes over a
    # pole: its length is the half meridian, not pi*a
    assert abs(karney_km(0, 0, 0, 180) - 20003.9314586) < 1e-6
    # on-equator geodesic is valid right up to (1-f)*pi
    crit = np.degrees((1.0 - WGS84_F) * np.pi)
    assert abs(karney_km(0, 0, 0, crit - 1e-9) - WGS84_A_KM * np.radians(crit - 1e-9)) < 1e-6


def test_karney_covers_vincenty_failure_set():
    dv, ok = vincenty_km([0.0], [0.0], [0.5], [179.7])
    assert not ok.any(), "this is the classic Vincenty non-convergence pair"
    dk = karney_km(0.0, 0.0, 0.5, 179.7)
    assert abs(dk - 19944.127421) < 1e-3  # published GeographicLib value
    # continuity across the astroid boundary (no fallback seam like Vincenty)
    assert abs(dk - karney_km(0.0, 0.0, 0.5, 179.69)) < 1.0


def test_karney_symmetry_identity_poles():
    rng = np.random.default_rng(12)
    la1 = rng.uniform(-90, 90, 300)
    lo1 = rng.uniform(-180, 180, 300)
    la2 = rng.uniform(-90, 90, 300)
    lo2 = rng.uniform(-180, 180, 300)
    ab = karney_km(la1, lo1, la2, lo2)
    ba = karney_km(la2, lo2, la1, lo1)
    assert np.abs(ab - ba).max() < 1e-9
    assert np.abs(karney_km(la1, lo1, la1, lo1)).max() < 1e-9
    assert karney_km(90, 0, 90, 137.5) < 1e-9  # pole: lon is degenerate
    assert abs(karney_km(90, 10, 0, 25) - 10001.9657293) < 1e-6


def test_j13_golden_under_all_kernels():
    """J13 (the 20 km headquarters check) measures with the Karney kernel;
    the ellipsoidal (Vincenty) kernel puts every golden (element, HQ) pair
    on the same side of 20 km, so the golden verdicts do not depend on the
    choice between the two WGS-84 kernels."""
    from wikibrain_spark.sources import synthetic

    d = synthetic.generate_wikidata_dim()
    qid_of_page = {(r.lang, r.title): r.qid for r in d["wikipedia_pages"].itertuples()}
    hq = d["wikidata_claims"]
    hq = hq[(hq["pid"] == "P159") & hq["value_lat"].notna()]
    pairs = []
    for el in synthetic.generate_test_elements().itertuples():
        tags = dict(el.tags)
        qid = tags.get("wikidata") or qid_of_page.get(tuple(tags.get("wikipedia", "").split(":", 1)))
        if qid is None or el.lat is None or np.isnan(el.lat):
            continue
        for h in hq[hq["qid"] == qid].itertuples():
            pairs.append((el.lat, el.lon, h.value_lat, h.value_lon))
    la1, lo1, la2, lo2 = np.array(pairs, dtype=np.float64).T
    far_karney = karney_km(la1, lo1, la2, lo2) > 20.0
    far_ellipsoidal = ellipsoidal_km(la1, lo1, la2, lo2) > 20.0
    assert (far_karney == far_ellipsoidal).all()
    assert far_karney.any(), "J13 cases must be present"
