"""Vectorized great-circle distance kernels + matching Spark/SQL expressions.

The reference computes element<->wikidata distances with geopy's Karney
geodesic (wikimedia_link_issue_reporter.py:1368-1376). We use spherical
haversine (WGS-84 mean radius), vectorized; the <=0.5% difference vs Karney
only matters at classification thresholds, and our fixtures are generated
with THIS kernel as ground truth, so the engine/oracle/test trio is exact.

Three co-equal implementations (NumPy / Spark Column / SQL string) must
agree to float64 round-off; tests cover it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088  # IUGG mean radius, same constant everywhere


def haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lat1, lon1, lat2, lon2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def haversine_km_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Native Column expression — JVM-side, whole-stage codegen."""
    rlat1, rlon1, rlat2, rlon2 = (F.radians(c) for c in (lat1, lon1, lat2, lon2))
    h = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.least(F.lit(1.0), F.sqrt(h)))


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Equivalent ANSI SQL (DuckDB oracle)."""
    return (
        f"(2.0 * {EARTH_RADIUS_KM!r} * asin(least(1.0, sqrt("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin((radians({lon2}) - radians({lon1})) / 2), 2)))))"
    )


# --------------------------------------------------------------- ellipsoidal
#
# The reference measures distances with geopy's Karney geodesic on WGS-84
# (wikimedia_link_issue_reporter.py:1368-1376). geographiclib is not in this
# container, so the ellipsoidal kernel is a vectorized NumPy implementation
# of the Vincenty inverse (T. Vincenty 1975, "Direct and inverse solutions of
# geodesics on the ellipsoid" — public domain algorithm). Where Vincenty
# converges it agrees with Karney/geographiclib to < 0.5 mm; it fails to
# converge only for nearly-antipodal pairs (within ~0.5 deg of the antipode,
# i.e. separations ~19,900+ km), where this implementation falls back to
# spherical haversine and flags the row. Every reference distance check
# operates at <= tens of km (the 20 km J13 threshold), five orders of
# magnitude away from the fallback regime, so the kernel is Karney-exact
# wherever the reference consults it. Measured haversine-vs-ellipsoid delta
# at the 20 km threshold: see tests/test_geodesic_kernels.py (documented
# max ~0.11 km = ~0.56%, the meridional-flattening bound).

WGS84_A_KM = 6378.137
WGS84_F = 1.0 / 298.257223563
WGS84_B_KM = WGS84_A_KM * (1.0 - WGS84_F)


def vincenty_km(
    lat1, lon1, lat2, lon2, max_iter: int = 200, tol: float = 1e-12
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized WGS-84 Vincenty inverse -> (distance_km, converged_mask).

    Non-converged rows (nearly antipodal) carry the haversine fallback
    distance and converged_mask=False so callers can decide.
    """
    f = WGS84_F
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    phi1, phi2 = np.radians(lat1), np.radians(lat2)
    L = np.radians(lon2 - lon1)
    U1 = np.arctan((1.0 - f) * np.tan(phi1))
    U2 = np.arctan((1.0 - f) * np.tan(phi2))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    sin_sigma = np.zeros_like(lam)
    cos_sigma = np.ones_like(lam)
    sigma = np.zeros_like(lam)
    cos_sq_alpha = np.ones_like(lam)
    cos2sm = np.zeros_like(lam)
    converged = np.zeros(lam.shape, dtype=bool)

    for _ in range(max_iter):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        sin_sigma = np.sqrt(
            (cosU2 * sin_lam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cos_lam) ** 2
        )
        cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sigma = np.arctan2(sin_sigma, cos_sigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(sin_sigma > 0, cosU1 * cosU2 * sin_lam / sin_sigma, 0.0)
        cos_sq_alpha = 1.0 - sin_alpha**2
        with np.errstate(divide="ignore", invalid="ignore"):
            cos2sm = np.where(
                cos_sq_alpha > 0, cos_sigma - 2.0 * sinU1 * sinU2 / cos_sq_alpha, 0.0
            )
        C = f / 16.0 * cos_sq_alpha * (4.0 + f * (4.0 - 3.0 * cos_sq_alpha))
        lam_new = L + (1.0 - C) * f * sin_alpha * (
            sigma + C * sin_sigma * (cos2sm + C * cos_sigma * (-1.0 + 2.0 * cos2sm**2))
        )
        step_converged = np.abs(lam_new - lam) < tol
        lam = np.where(converged, lam, lam_new)
        converged = converged | step_converged
        if converged.all():
            break

    u_sq = cos_sq_alpha * (WGS84_A_KM**2 - WGS84_B_KM**2) / WGS84_B_KM**2
    A = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    B = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = B * sin_sigma * (
        cos2sm
        + B / 4.0 * (
            cos_sigma * (-1.0 + 2.0 * cos2sm**2)
            - B / 6.0 * cos2sm * (-3.0 + 4.0 * sin_sigma**2) * (-3.0 + 4.0 * cos2sm**2)
        )
    )
    dist = WGS84_B_KM * A * (sigma - delta_sigma)
    # coincident (or numerically coincident) points: distance 0, converged
    coincident = sin_sigma == 0.0
    converged = converged | coincident
    dist = np.where(coincident, 0.0, dist)
    if not converged.all():
        dist = np.where(converged, dist, haversine_km(lat1, lon1, lat2, lon2))
    return dist, converged


def ellipsoidal_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    """WGS-84 ellipsoidal distance (Vincenty, haversine fallback on the
    nearly-antipodal non-convergence set). The `karney`-parity kernel."""
    return vincenty_km(lat1, lon1, lat2, lon2)[0]


# ------------------------------------------------------------------- karney
#
# Full-globe WGS-84 inverse with NO non-convergence regime, matching the
# reference's geopy/Karney geodesic everywhere (including the nearly-
# antipodal set where Vincenty diverges). Rather than porting the
# geographiclib 6th-order series, this solves Karney 2013 ("Algorithms for
# geodesics", J. Geod 87) exactly:
#
#   * the geodesic is parameterized on the auxiliary sphere by the azimuth
#     at the equator crossing alpha0 (Clairaut constant);
#   * for a trial departure azimuth alpha1, the longitude difference is
#     lambda12(alpha1) = (omega2 - omega1) - f sin(alpha0) I3, with
#     I3 = Int (2-f) / (1 + (1-f) sqrt(1 + k^2 sin^2 t)) dt  (Karney eq. 8),
#     k^2 = e'^2 cos^2(alpha0), evaluated by Gauss-Legendre quadrature
#     (the integrand is entire; 64 nodes reach float64 round-off);
#   * lambda12 is monotonically increasing in alpha1 on the canonical
#     arrangement (Karney sec. 4), so plain bisection over alpha1 in (0, pi)
#     is globally convergent — no Newton, no starting-point astroid solve;
#   * distance s12 = b * Int sqrt(1 + k^2 sin^2 t) dt over [sigma1, sigma2].
#
# Quadrature + bisection trade ~5000 vectorized flops per row for zero
# truncation error, which is the right trade HERE: this kernel runs on the
# per-QID facts dim (thousands of rows), never on the billion-row element
# side, where haversine (native Column, codegen) remains the bulk kernel.

_GL_NODES, _GL_WEIGHTS = np.polynomial.legendre.leggauss(64)
_WGS84_EP2 = (WGS84_A_KM**2 - WGS84_B_KM**2) / WGS84_B_KM**2  # e'^2


def _beta_sincos(lat_deg: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """sin/cos of the reduced latitude beta = atan((1-f) tan(phi)),
    computed without tan so the poles are exact."""
    phi = np.radians(lat_deg)
    s = (1.0 - WGS84_F) * np.sin(phi)
    c = np.cos(phi)
    h = np.hypot(s, c)
    return s / h, np.abs(c) / h


def _gl_int(integrand, sig_lo: np.ndarray, sig_hi: np.ndarray, k2: np.ndarray) -> np.ndarray:
    """Vectorized Gauss-Legendre of `integrand(t, k2)` over [sig_lo, sig_hi]."""
    mid = 0.5 * (sig_hi + sig_lo)[:, None]
    half = 0.5 * (sig_hi - sig_lo)[:, None]
    t = mid + half * _GL_NODES[None, :]
    return (integrand(t, k2[:, None]) * _GL_WEIGHTS[None, :]).sum(axis=1) * half[:, 0]


def _i1_integrand(t, k2):
    return np.sqrt(1.0 + k2 * np.sin(t) ** 2)


def _i3_integrand(t, k2):
    return (2.0 - WGS84_F) / (1.0 + (1.0 - WGS84_F) * np.sqrt(1.0 + k2 * np.sin(t) ** 2))


def karney_km(lat1, lon1, lat2, lon2, bisect_iters: int = 80) -> np.ndarray:
    """Vectorized WGS-84 geodesic inverse distance, full globe.

    Agrees with Vincenty (and geographiclib) to < 1e-6 km wherever Vincenty
    converges, and remains exact on the nearly-antipodal set where Vincenty
    fails — see the algorithm note above. Reference parity target:
    wikimedia_link_issue_reporter.py:1368-1376 (geopy geodesic = Karney).
    """
    f, a, b = WGS84_F, WGS84_A_KM, WGS84_B_KM
    lat1, lon1, lat2, lon2 = np.broadcast_arrays(
        *(np.asarray(x, dtype=np.float64) for x in (lat1, lon1, lat2, lon2))
    )
    shape = lat1.shape
    lat1, lon1, lat2, lon2 = (x.ravel() for x in (lat1, lon1, lat2, lon2))

    sb1, cb1 = _beta_sincos(lat1)
    sb2, cb2 = _beta_sincos(lat2)
    # canonical target longitude difference in [0, pi] (distance is
    # invariant under lon reflection and point swap)
    lam12 = np.abs(np.radians((lon2 - lon1 + 180.0) % 360.0 - 180.0))

    # swap so |beta1| >= |beta2|, then flip hemispheres so beta1 <= 0
    swap = np.abs(sb1) < np.abs(sb2)
    sb1, sb2 = np.where(swap, sb2, sb1), np.where(swap, sb1, sb2)
    cb1, cb2 = np.where(swap, cb2, cb1), np.where(swap, cb1, cb2)
    sgn = np.where(sb1 > 0, -1.0, 1.0)
    sb1, sb2 = sgn * sb1, sgn * sb2

    # equatorial geodesics: shortest path stays on the equator only while
    # lam12 <= (1-f)*pi (s = a*lam12); beyond that the geodesic leaves the
    # equator — nudge beta1 off it so the general machinery applies
    equatorial = (sb1 == 0.0) & (sb2 == 0.0)
    eq_exact = equatorial & (lam12 <= (1.0 - f) * np.pi)
    bump = equatorial & ~eq_exact
    sb1 = np.where(bump, -1e-12, sb1)

    def lambda12(sa1, ca1):
        sa0 = sa1 * cb1
        ca0 = np.hypot(ca1, sa1 * sb1)
        k2 = _WGS84_EP2 * ca0 * ca0
        csig1 = ca1 * cb1
        sig1 = np.arctan2(sb1, csig1)
        omg1 = np.arctan2(sa0 * sb1, csig1)
        # cos(sigma2) = +sqrt(cos^2 sig1 + (cos^2 b2 - cos^2 b1)) >= 0:
        # real because cb2 >= cb1 under the canonical arrangement
        csig2 = np.sqrt(np.maximum(csig1 * csig1 + (cb2 - cb1) * (cb2 + cb1), 0.0))
        sig2 = np.arctan2(sb2, csig2)
        omg2 = np.arctan2(sa0 * sb2, csig2)
        lam = (omg2 - omg1) - f * sa0 * _gl_int(_i3_integrand, sig1, sig2, k2)
        return lam, sig1, sig2, k2

    lo = np.full_like(lam12, 1e-12)
    hi = np.full_like(lam12, np.pi - 1e-12)
    for _ in range(bisect_iters):
        mid = 0.5 * (lo + hi)
        lam, _, _, _ = lambda12(np.sin(mid), np.cos(mid))
        hi = np.where(lam >= lam12, mid, hi)
        lo = np.where(lam >= lam12, lo, mid)
    alpha1 = 0.5 * (lo + hi)
    _, sig1, sig2, k2 = lambda12(np.sin(alpha1), np.cos(alpha1))
    dist = b * _gl_int(_i1_integrand, sig1, sig2, k2)
    dist = np.where(eq_exact, a * lam12, dist)
    return dist.reshape(shape)


def distance_human_string_col(dist_km: Column) -> Column:
    """Reference's km/m cutoff formatting (wikimedia_link_issue_reporter.py:1362-1366):
    > 3 km -> '<int> km', else '<int> m'."""
    return F.when(
        dist_km > 3, F.concat(dist_km.cast("int").cast("string"), F.lit(" km"))
    ).otherwise(F.concat((dist_km * 1000).cast("int").cast("string"), F.lit(" m")))
