"""Deterministic synthetic generators for the engine's own input tables.

The driver's /root/testdata has the TPC-H-ish tables; the engine's
geospatial inputs (image+caption pairs per BASELINE.json input_hint, OSM
boundary polygons, wikidata dimension tables) are generated here, seeded,
with pure-Python ground truth (expected geotags / tiles) emitted alongside
so every Spark result has an independent oracle (FIXTURES.md §2-§6).

Scale note: generation is only for tests/bench (sf-scale). At 100 TB the
real tables arrive as Iceberg/Parquet; everything downstream is agnostic.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

from wikibrain_spark import codecs
from wikibrain_spark.geo import cells, pip

SEED = 42

# World layout: points cluster around "cities" so boundary polygons get
# realistic skew (one megacity = hot H3 cells, FIXTURES.md §3).
_CITIES = [
    # (name, lat, lon, weight, qid, wikipedia) — megacity first with weight
    # >= 30% to force hot-cell salting down the line
    ("Megapolis", 40.0, -74.0, 0.35, "Q100", "en:Megapolis"),
    ("Altstadt", 52.5, 13.4, 0.15, "Q101", "de:Altstadt"),
    ("Riverside", 48.85, 2.35, 0.12, "Q102", "fr:Riverside"),
    ("Lakeview", 41.9, 12.5, 0.10, "Q103", "it:Lakeview"),
    ("Hilltop", -33.9, 151.2, 0.08, "Q104", "en:Hilltop"),
    ("Port Verde", -23.55, -46.63, 0.08, "Q105", "pt:Port Verde"),
    ("Nordhaven", 59.9, 10.75, 0.07, "Q106", "no:Nordhaven"),
    ("Sandflat", 30.0, 31.2, 0.05, "Q107", "ar:Sandflat"),
]

_FMTS = ["ppm", "bmp", "pngz", "dctq"]

CAPTION_WORDS = [
    "plaza", "bridge", "station", "market", "cathedral", "museum", "tower",
    "garden", "harbor", "fountain", "monument", "library", "castle", "square",
]


def fixture_key() -> str:
    """Content key for fixtures staged from this module's generators: a
    hash of this file's source, so an edit to any generator, helper or
    SEED changes the key and a stager keyed on it regenerates (every
    generator here is deterministic, so one staging per key is exact)."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def _city_polygon(lat: float, lon: float, radius_deg: float, n_vertices: int, rng) -> tuple[np.ndarray, np.ndarray]:
    ang = np.linspace(0, 2 * np.pi, n_vertices, endpoint=False)
    r = radius_deg * (0.7 + 0.6 * rng.random(n_vertices))
    return lat + r * np.sin(ang), lon + r * np.cos(ang)


def _ring_rec(rlat, rlon, is_hole: bool = False) -> dict:
    """One ring record of the canonical `rings` schema (spatial_join.RINGS_TYPE)."""
    return {
        "ring_lat": [float(x) for x in rlat],
        "ring_lon": [float(x) for x in rlon],
        "is_hole": bool(is_hole),
    }


def generate_boundaries(rng=None) -> pd.DataFrame:
    """OSM-style boundary (multi)polygons carrying wikipedia/wikidata tags,
    in the canonical `rings` schema (array of outer/hole rings — the real
    OSM admin-boundary shape, round-4 verdict #1).

    Includes the malformed/redirect/missing tag cases from FIXTURES.md §3 so
    the link-resolution operators have real rows to fire on, plus the
    complex-geometry fixtures: a donut (outer + hole) and an enclave state
    inside its hole over the Altstadt image cluster (so flagship images
    genuinely land in ring, hole, and enclave), a two-component
    multipolygon spanning the Hilltop and Port Verde clusters, and a
    dateline-crossing polygon (no image cluster there — it exercises the
    cover/bbox machinery; events-table oracle queries pin containment).
    """
    rng = rng or np.random.default_rng(SEED)
    rows = []
    for i, (name, lat, lon, w, qid, wikipedia) in enumerate(_CITIES):
        radius = 3.0 if i == 0 else 1.2  # megacity is large -> overlaps many cells
        rlat, rlon = _city_polygon(lat, lon, radius, 12, rng)
        tags = {"name": name, "boundary": "administrative", "wikidata": qid, "wikipedia": wikipedia}
        # inject validator-exercising tag variants on some boundaries
        if i == 3:
            tags["wikidata"] = "Saturn"  # malformed
        if i == 4:
            tags["fixme:wikipedia"] = "check me"
        if i == 5:
            tags["not:brand:wikidata"] = "Q177054"
            tags["brand:wikidata"] = "Q177054"
        rows.append(
            {
                "boundary_id": i,
                "qid": tags.get("wikidata"),
                "wikipedia": tags.get("wikipedia"),
                "tags": tags,
                "rings": [_ring_rec(rlat, rlon)],
            }
        )

    def add(bid, name, qid, wikipedia, rings):
        rows.append({
            "boundary_id": bid, "qid": qid, "wikipedia": wikipedia,
            "tags": {"name": name, "boundary": "administrative",
                     "wikidata": qid, "wikipedia": wikipedia},
            "rings": rings,
        })

    # donut over Altstadt: outer r~2.5 (min 1.75) strictly contains hole
    # r~1.0 (max 1.3)... radii jitter in [0.7r, 1.3r], so nesting is
    # guaranteed by construction
    alt_lat, alt_lon = _CITIES[1][1], _CITIES[1][2]
    outer = _city_polygon(alt_lat, alt_lon, 2.5, 14, rng)
    hole = _city_polygon(alt_lat, alt_lon, 1.0, 10, rng)
    add(8, "Ringland", "Q108", "en:Ringland",
        [_ring_rec(*outer), _ring_rec(*hole, is_hole=True)])
    # enclave strictly inside the hole (r~0.45, max 0.585 < hole min 0.7)
    add(9, "Holestate", "Q109", "de:Holestate",
        [_ring_rec(*_city_polygon(alt_lat, alt_lon, 0.45, 8, rng))])
    # two-component multipolygon over the Hilltop + Port Verde clusters
    add(10, "Twin Isles", "Q110", "en:Twin Isles",
        [_ring_rec(*_city_polygon(_CITIES[4][1], _CITIES[4][2], 1.5, 9, rng)),
         _ring_rec(*_city_polygon(_CITIES[5][1], _CITIES[5][2], 1.5, 9, rng))])
    # dateline-crossing polygon (Fiji-style): vertices straddle ±180
    m_lat, m_lon = _city_polygon(-17.0, 180.0, 2.0, 10, rng)
    m_lon = ((np.asarray(m_lon) + 180.0) % 360.0) - 180.0  # back to [-180, 180)
    add(11, "Meridia", "Q111", "en:Meridia", [_ring_rec(m_lat, m_lon)])
    return pd.DataFrame(rows)


def _coast_ring(lat0: float, lon0: float, base_r: float, n: int, rng) -> tuple[np.ndarray, np.ndarray]:
    """A 'coastline': star-shaped ring with multi-octave radial noise.

    r(theta) = base_r * clip(1 + sum_k a_k sin(f_k theta + phi_k), 0.25, ·)
    is single-valued in theta, so the ring is simple (no self-intersection)
    by construction at ANY vertex count; amplitudes sum to ~0.69 so
    r in [0.31*base_r, 1.69*base_r] — callers size nested rings off those
    bounds the same way _city_polygon fixtures do."""
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    r = np.ones(n)
    for k, octave in enumerate((3, 7, 13, 29, 61, 127)):
        r += (0.28 / (k + 1)) * np.sin(octave * ang + rng.uniform(0, 2 * np.pi))
    r = base_r * np.clip(r, 0.25, None)
    return lat0 + r * np.sin(ang), lon0 + r * np.cos(ang)


def generate_coastlines() -> pd.DataFrame:
    """High-vertex 'real boundary' fixtures (round-5 verdict #2): every
    other geometry fixture is <=~40 vertices, but real OSM admin boundaries
    run 10^4-10^6 vertices — vertex count is the variable the geometry
    transport and refine kernels actually stress. ~12k edges total:

    * 30 Longshore — 4000-vertex coastline + 2000-vertex lagoon hole
      (hole max radius 5.06 deg < outer min radius 5.65 deg: nested by
      the _coast_ring radial bounds).
    * 31 Meridian Reef — 3000-vertex dateline-crossing coastline.
    * 32 Twin Shoals — two disjoint 1500-vertex components.

    Deterministic (own seed; independent of other generators' rng draws).
    Geometry-only frame: (boundary_id, rings)."""
    rng = np.random.default_rng(SEED + 7)
    lrow_lat, lrow_lon = _coast_ring(10.0, 60.0, 18.0, 4000, rng)
    hole_lat, hole_lon = _coast_ring(10.0, 60.0, 3.0, 2000, rng)
    m_lat, m_lon = _coast_ring(-20.0, 180.0, 10.0, 3000, rng)
    m_lon = ((np.asarray(m_lon) + 180.0) % 360.0) - 180.0  # wrap to [-180, 180)
    t1_lat, t1_lon = _coast_ring(-40.0, -60.0, 6.0, 1500, rng)
    t2_lat, t2_lon = _coast_ring(-25.0, -30.0, 6.0, 1500, rng)
    return pd.DataFrame([
        {"boundary_id": 30, "rings": [_ring_rec(lrow_lat, lrow_lon),
                                      _ring_rec(hole_lat, hole_lon, is_hole=True)]},
        {"boundary_id": 31, "rings": [_ring_rec(m_lat, m_lon)]},
        {"boundary_id": 32, "rings": [_ring_rec(t1_lat, t1_lon),
                                      _ring_rec(t2_lat, t2_lon)]},
    ])


def generate_megacoast(scale: int = 1) -> pd.DataFrame:
    """Order-of-magnitude vertex stress fixture (round-6 verdict #2):
    the 12k-edge coastline proves the O(vertices + cells) transport at
    10^4; real OSM admin boundaries reach 10^6 vertices, and the clip
    prepass's per-(ring, strip) cost curve is the term only THIS size
    exercises. ~600k vertices at scale=1 (50x the coastline fixture):

    * 40 Continent — 400k-vertex outer coastline + 100k-vertex inland
      sea hole (hole max radius 8.45 < outer min radius 9.3: nested by
      the _coast_ring radial bounds, same construction argument as
      Longshore).
    * 41 Dateline Shelf — 100k-vertex dateline-crossing coastline.

    scale multiplies every ring's vertex count (bench/scaling rows run
    scale=1; per-ring counts are int()-coerced so fractional scales
    work). Deterministic (own seed), single-valued-radius rings: simple
    at any vertex count."""
    rng = np.random.default_rng(SEED + 13)
    c_lat, c_lon = _coast_ring(20.0, -40.0, 30.0, int(400_000 * scale), rng)
    h_lat, h_lon = _coast_ring(20.0, -40.0, 5.0, int(100_000 * scale), rng)
    d_lat, d_lon = _coast_ring(-10.0, 178.0, 12.0, int(100_000 * scale), rng)
    d_lon = ((np.asarray(d_lon) + 180.0) % 360.0) - 180.0  # wrap to [-180, 180)
    return pd.DataFrame([
        {"boundary_id": 40, "rings": [_ring_rec(c_lat, c_lon),
                                      _ring_rec(h_lat, h_lon, is_hole=True)]},
        {"boundary_id": 41, "rings": [_ring_rec(d_lat, d_lon)]},
    ])


def coastline_edges(coast: pd.DataFrame) -> pd.DataFrame:
    """Flat edge table for the DuckDB oracle: one row per directed ring
    edge, coordinates already in each ring's TEST FRAME (a ring that is
    wide raw but narrow unwrapped crosses the dateline; its lons — and,
    via the `wrapped` flag, the probe lon — shift by +360 for lon < 0).
    The frame choice restates the documented data-model convention
    (geo/pip.py module docstring); the crossing-parity math itself is done
    independently by the oracle SQL."""
    rows = {k: [] for k in ("boundary_id", "y0", "x0", "y1", "x1", "wrapped")}
    for _, b in coast.iterrows():
        for r in b["rings"]:
            la = np.asarray(r["ring_lat"], dtype=np.float64)
            lo = np.asarray(r["ring_lon"], dtype=np.float64)
            unwrapped = np.where(lo < 0.0, lo + 360.0, lo)
            wraps = bool(
                (lo.max() - lo.min()) > 180.0
                and (unwrapped.max() - unwrapped.min()) <= 180.0
            )
            x = unwrapped if wraps else lo
            n = la.size
            rows["boundary_id"].append(np.full(n, b["boundary_id"], dtype=np.int64))
            rows["y0"].append(la)
            rows["x0"].append(x)
            rows["y1"].append(np.roll(la, -1))
            rows["x1"].append(np.roll(x, -1))
            rows["wrapped"].append(np.full(n, wraps))
    return pd.DataFrame({k: np.concatenate(v) for k, v in rows.items()})


def generate_images(n: int, rng=None, img_hw: tuple[int, int] = (24, 32)) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(images, expected_geotags). images matches BASELINE.json input_hint:
    (image_id, bytes, w, h, fmt, caption, phash)."""
    rng = rng or np.random.default_rng(SEED)
    weights = np.array([c[3] for c in _CITIES])
    city_idx = rng.choice(len(_CITIES), size=n, p=weights / weights.sum())
    h, w = img_hw
    yy, xx = np.mgrid[0:h, 0:w]
    rows = []
    truth = []
    for i in range(n):
        c = _CITIES[city_idx[i]]
        lat = float(c[1] + rng.normal(0, 1.2))
        lon = float(c[2] + rng.normal(0, 1.2))
        fmt = _FMTS[i % len(_FMTS)]
        base = np.stack(
            [(yy * (37 + i)) % 256, (xx * (11 + i)) % 256, ((yy + xx) * (5 + i)) % 256], axis=-1
        ).astype(np.float64)
        img = np.clip(base * 0.8 + rng.uniform(0, 255, (h, w, 3)) * 0.2, 0, 255).astype(np.uint8)
        payload = codecs.encode_image(img, fmt, lat, lon)
        caption = f"{CAPTION_WORDS[i % len(CAPTION_WORDS)]} near {c[0]}"
        rows.append(
            {
                "image_id": f"img_{i:08d}",
                "bytes": payload,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": caption,
                "phash": codecs.phash64(img),
            }
        )
        truth.append({"image_id": f"img_{i:08d}", "lat": lat, "lon": lon})
    return pd.DataFrame(rows), pd.DataFrame(truth)


def expected_tiles(geotags: pd.DataFrame, boundaries: pd.DataFrame, res: int = 9) -> pd.DataFrame:
    """Pure-Python oracle for the spatial join + tile assignment
    (FIXTURES.md §6 expected_tiles): (image_id, cell_r9, boundary_id, qid)."""
    idx = pip.PolygonIndex(
        boundaries["boundary_id"].to_numpy(),
        rings=[
            [(r["ring_lat"], r["ring_lon"], r["is_hole"]) for r in rs]
            for rs in boundaries["rings"]
        ],
    )
    lat = geotags["lat"].to_numpy()
    lon = geotags["lon"].to_numpy()
    pt, poly = idx.query_batch(lat, lon)
    qid_by_boundary = dict(zip(boundaries["boundary_id"], boundaries["qid"]))
    cell = cells.hexlite_cell(lat[pt], lon[pt], res)
    return pd.DataFrame(
        {
            "image_id": geotags["image_id"].to_numpy()[pt],
            "cell_r9": cell,
            "boundary_id": poly,
            "qid": [qid_by_boundary[int(b)] for b in poly],
        }
    ).sort_values(["image_id", "boundary_id"]).reset_index(drop=True)


# ------------------------------------------------- wikidata dimension tables

BLACKLISTED_FIXTURE_QID = "Q1001437"  # first entry of the public blacklist


def generate_wikidata_dim() -> dict[str, pd.DataFrame]:
    """Small wikidata-shaped dimension tables covering the FIXTURES.md §4/§5
    cases: entities, claims, ontology edges (P31/P279), redirects, pages."""
    entities = [
        # qid, label, sitelinks {lang: title}, P625 (lat, lon) or None
        ("Q100", "Megapolis", {"en": "Megapolis", "de": "Megapolis"}, (40.0, -74.0)),
        ("Q101", "Altstadt", {"de": "Altstadt"}, (52.5, 13.4)),
        ("Q102", "Riverside", {"fr": "Riverside", "en": "Riverside (city)"}, (48.85, 2.35)),
        ("Q103", "Lakeview", {"it": "Lakeview"}, (41.9, 12.5)),
        ("Q104", "Hilltop", {"en": "Hilltop"}, (-33.9, 151.2)),
        ("Q105", "Port Verde", {"pt": "Port Verde"}, (-23.55, -46.63)),
        ("Q106", "Nordhaven", {"no": "Nordhaven"}, (59.9, 10.75)),
        ("Q107", "Sandflat", {"ar": "Sandflat"}, (30.0, 31.2)),
        ("Q5", "human", {}, None),
        ("Q4167410", "disambiguation page", {}, None),
        ("Q13406463", "list article", {}, None),
        ("Q515", "city", {}, None),
        ("Q486972", "human settlement", {}, None),
        ("Q2221906", "geographic location", {}, None),
        ("Q177054", "brand thing", {"en": "Brand Thing"}, None),
        ("Q999000", "Stan Example", {"en": "Stanislav Example"}, None),  # a human
        ("Q999001", "Megapolis (disambiguation)", {"en": "Megapolis (disambiguation)"}, None),
        ("Q999002", "List of megapolis towers", {}, None),   # a list article
        ("Q999003", "Ambiguous thing", {}, None),            # ambiguous wikidata item
        ("Q99100", "old Megapolis entry", {}, None),         # redirect source
        ("Q106617236", "whitelisted thing", {}, None),       # skipped_cases()[0]
        (BLACKLISTED_FIXTURE_QID, "Budget", {}, None),       # blacklist fixture
        ("Q7501155", "Dissolved Brand Co", {}, None),
        ("Q6746", "Active Brand Co", {}, None),
        ("Q1565289", "grave one", {}, None),
        ("Q1564970", "grave two", {}, None),
        ("Q777001", "Township", {"pl": "Township"}, (52.0, 19.0)),  # teryt P4046
        ("Q777002", "Other Township", {}, (52.1, 19.1)),
        ("Q888001", "Chain HQ Co", {}, None),                # P159 far, no area
        ("Q888002", "Boundary With HQ", {}, None),           # P159 + P2046
        ("Q889001", "Sputnik-like", {}, None),               # P247 spacecraft
        ("Q889002", "generic class", {}, None),              # has P279 claim
        ("Q7432", "species (taxon rank)", {}, None),
        ("Q34740", "genus (taxon rank)", {}, None),
        ("Q16521", "taxon", {}, None),
        ("Q156895", "Some species", {}, None),               # P105 = Q7432
        ("Q42292", "Some genus", {}, None),                  # P105 = Q34740
        ("Q777100", "Some taxon entry", {}, None),           # P31 -> Q16521
        ("Q555001", "Polska Rzecz", {"pl": "Polska Rzecz", "de": "Polnisches Ding"}, (52.0, 20.0)),
        ("Q555002", "Grenzstadt", {"pl": "Grenzstadt PL", "de": "Grenzstadt"}, (51.0, 15.0)),
        ("Q555003", "Cebuano Place", {"ceb": "Cebuano Place"}, (10.0, 123.0)),
        ("Q555004", "Nazi-era Thing", {"pl": "Rzecz Cztery", "de": "Sache Vier"}, (51.0, 16.0)),
        ("Q555005", "Countryless Thing", {"pl": "Rzecz Piec", "de": "Sache Fuenf"}, (51.5, 16.5)),
        ("Q555006", "Label-less-country Thing", {"pl": "Rzecz Szesc", "de": "Sache Sechs"}, (51.2, 16.2)),
        # country entities with English labels (the allowed-foreign check
        # consults get_wikidata_label(country, 'en'), reference :2673-2675;
        # Q9955500 is deliberately ABSENT from this table = label-less)
        ("Q36", "Poland", {}, None),
        ("Q183", "Germany", {}, None),
        ("Q7318", "Nazi Germany", {}, None),
        ("Q928", "Philippines", {}, None),
        ("Q555010", "Savazza-like redirect item", {"it": "Savazza2"}, None),
    ]
    wikidata = pd.DataFrame(
        [
            {
                "qid": q,
                "label_en": lbl,
                "sitelinks": sl,
                "lat": (c[0] if c else None),
                "lon": (c[1] if c else None),
            }
            for q, lbl, sl, c in entities
        ]
    )
    edges = pd.DataFrame(
        [
            # child, parent, pid
            ("Q100", "Q515", "P31"),
            ("Q101", "Q515", "P31"),
            ("Q102", "Q515", "P31"),
            ("Q103", "Q515", "P31"),
            ("Q104", "Q515", "P31"),
            ("Q105", "Q515", "P31"),
            ("Q106", "Q515", "P31"),
            ("Q107", "Q515", "P31"),
            ("Q515", "Q486972", "P279"),
            ("Q486972", "Q2221906", "P279"),
            ("Q999000", "Q5", "P31"),
            ("Q999001", "Q4167410", "P31"),
            ("Q999002", "Q13406463", "P31"),
            ("Q999003", "Q122754124", "P31"),  # ambiguous item -> skip
            ("Q999003", "Q5", "P31"),          # would be 'a human' if not skipped
            ("Q777001", "Q515", "P31"),
            ("Q777002", "Q515", "P31"),
            ("Q777100", "Q16521", "P31"),      # a taxon entry
            ("Q555001", "Q515", "P31"),
            ("Q555002", "Q515", "P31"),
            ("Q555003", "Q515", "P31"),
        ],
        columns=["child_qid", "parent_qid", "pid"],
    )
    # claims long table: qid, pid, value_str, value_qid, value_lat, value_lon, qualifier_pids
    _c = lambda qid, pid, vs=None, vq=None, la=None, lo=None, quals=None: {
        "qid": qid, "pid": pid, "value_str": vs, "value_qid": vq,
        "value_lat": la, "value_lon": lo, "qualifier_pids": quals or [],
    }
    claims = pd.DataFrame(
        [
            _c("Q777001", "P4046", vs="0912345"),
            _c("Q777002", "P4046", vs="0912399"),
            _c("Q7501155", "P576", vs="2010"),                       # dissolved
            _c("Q6746", "P576", vs="1990", quals=["P1011"]),          # excluded -> alive
            _c("Q888001", "P159", vq="Q100", la=0.0, lo=0.0),         # HQ far away
            _c("Q888002", "P159", vq="Q100", la=0.0, lo=0.0),
            _c("Q888002", "P2046", vs="120.5"),                       # has area -> skip
            _c("Q889001", "P247", vs="1957-001B"),
            _c("Q889002", "P279", vq="Q2221906"),
            _c("Q156895", "P105", vq="Q7432"),
            _c("Q42292", "P105", vq="Q34740"),
            _c("Q555001", "P17", vq="Q36"),                           # Poland
            _c("Q555002", "P17", vq="Q183"),                          # Germany
            _c("Q555002", "P17", vq="Q7318", quals=["P582"]),         # past country
            _c("Q555003", "P17", vq="Q928"),                          # Philippines
            _c("Q555004", "P17", vq="Q7318"),                         # Nazi Germany (current!) -> NOT allowed-foreign
            # Q555005: no P17 at all -> NOT allowed-foreign (:2667-2669)
            _c("Q555006", "P17", vq="Q9955500"),  # country with no EN label -> allowed (:2673-2675)
        ]
    )
    redirects = pd.DataFrame([("Q99100", "Q100")], columns=["from_qid", "to_qid"])
    pages = pd.DataFrame(
        [
            ("en", "Megapolis", "Q100"),
            ("de", "Megapolis", "Q100"),
            ("de", "Altstadt", "Q101"),
            ("fr", "Riverside", "Q102"),
            ("en", "Riverside (city)", "Q102"),
            ("it", "Lakeview", "Q103"),
            ("en", "Hilltop", "Q104"),
            ("pt", "Port Verde", "Q105"),
            ("no", "Nordhaven", "Q106"),
            ("ar", "Sandflat", "Q107"),
            ("en", "Stanislav Example", "Q999000"),
            ("en", "Megapolis (disambiguation)", "Q999001"),
            ("en", "Brand Thing", "Q177054"),
            ("pl", "Township", "Q777001"),
            ("pl", "Polska Rzecz", "Q555001"),
            ("de", "Polnisches Ding", "Q555001"),
            ("pl", "Grenzstadt PL", "Q555002"),
            ("de", "Grenzstadt", "Q555002"),
            ("ceb", "Cebuano Place", "Q555003"),
            ("pl", "Rzecz Cztery", "Q555004"),
            ("de", "Sache Vier", "Q555004"),
            ("pl", "Rzecz Piec", "Q555005"),
            ("de", "Sache Fuenf", "Q555005"),
            ("pl", "Rzecz Szesc", "Q555006"),
            ("de", "Sache Sechs", "Q555006"),
            ("it", "Savazza2", "Q555010"),  # redirect page WITH its own item
            ("en", "Megapolis City", None),  # redirect page exists, no own item
        ],
        columns=["lang", "title", "qid"],
    )
    wp_redirects = pd.DataFrame(
        [
            ("en", "Megapolis City", "Megapolis"),
            ("it", "Savazza2", "Lakeview"),  # redirect page that has its own QID
        ],
        columns=["lang", "from_title", "to_title"],
    )
    disambig_links = pd.DataFrame(
        [
            # outlinks of the Megapolis disambiguation page (ns=0 kept)
            ("en", "Megapolis (disambiguation)", "Megapolis", 0),
            ("en", "Megapolis (disambiguation)", "Hilltop", 0),
            ("en", "Megapolis (disambiguation)", "Brand Thing", 0),
            ("en", "Megapolis (disambiguation)", "Talk:Megapolis", 1),  # non-article
        ],
        columns=["lang", "title", "out_title", "ns"],
    )
    return {
        "wikidata": wikidata,
        "wikidata_claims": claims,
        "ontology_edges": edges,
        "wikidata_redirects": redirects,
        "wikipedia_pages": pages,
        "wikipedia_redirects": wp_redirects,
        "disambig_links": disambig_links,
    }


def _golden_cases() -> list[tuple]:
    """(object_type, tags, lat, lon, expected_error_id, payload) where payload
    is None or {'pre': prerequisite-dict, 'prop': proposed_tagging_changes}.

    expected_error_id None == clean; 'FILTERED' == dropped by the deletion
    filter. error_ids and payloads mirror the reference's own constructions
    (wikimedia_link_issue_reporter.py, cited per error site in linkres.py)."""
    return [
        ("node", {"wikidata": "Saturn"}, 40.0, -74.0, "malformed wikidata tag",
         {"pre": {"wikidata": "Saturn"}}),
        ("node", {"wikidata": "", "wikipedia": "en:Oslo"}, 40.0, -74.0, "malformed wikidata tag",
         {"pre": {"wikidata": ""}}),
        ("node", {"wikidata": "Q999999999"}, 40.0, -74.0, "wikidata tag links to 404",
         {"pre": {"wikidata": "Q999999999"}}),
        ("node", {"wikipedia": "https://wikipedia.org/wiki/Article"}, 40.0, -74.0, "malformed wikipedia tag",
         {"pre": {"wikipedia": "https://wikipedia.org/wiki/Article"}}),
        ("node", {"nonsense:wikidata": "Q999999999"}, 40.0, -74.0, "secondary wikidata tag links to 404",
         {"pre": {"nonsense:wikidata": "Q999999999"}}),
        ("node", {"name:etymology:wikipedia": "https://x.org/wiki/A"}, 40.0, -74.0,
         "malformed secondary wikipedia tag - for name:etymology prefixed tags",
         {"pre": {"name:etymology:wikipedia": "https://x.org/wiki/A"}}),
        ("node", {"buried:wikidata": "Q1565289;Q1564970;"}, 40.0, -74.0, None, None),
        ("node", {"buried:wikidata": "Q12636988;"}, 40.0, -74.0,
         "malformed secondary wikidata tag - for buried prefixed tags",
         {"pre": {"buried:wikidata": "Q12636988;"}}),
        ("node", {"buried:wikidata": "Q1565289; Q1564970"}, 40.0, -74.0,
         "malformed secondary wikidata tag - for buried prefixed tags",
         {"pre": {"buried:wikidata": "Q1565289; Q1564970"}}),
        ("node", {"wikipedia:fixme": "en:Whatever"}, 40.0, -74.0, "invalid old-style wikipedia tag",
         {"pre": {"wikipedia:fixme": "en:Whatever"}}),
        # P19 prerequisite rewrite: report built on effective wikidata Q999000,
        # but tags carry only wikipedia -> prerequisite swaps to wikipedia (:439-442)
        ("node", {"wikipedia": "en:Stanislav Example"}, 40.0, -74.0,
         "should use a secondary wikipedia tag - linking from wikipedia tag to a human",
         {"pre": {"wikipedia": "en:Stanislav Example"}}),
        ("node", {"not:brand:wikidata": "Q177054", "brand:wikidata": "Q177054"}, 40.0, -74.0,
         "wikipedia/wikidata type tag that is incorrect according to not:* tag",
         {"pre": {"brand:wikidata": "Q177054", "not:brand:wikidata": "Q177054"}}),
        # [sic] the reference stores tags['wikipedia'] (absent -> None), :450
        ("node", {"fixme:wikipedia": "podpern"}, 40.0, -74.0,
         "something is wrong with wikipedia tag - fixme:wikipedia is present",
         {"pre": {"fixme:wikipedia": None}}),
        ("node", {"note:wikidata": "gibberish"}, 40.0, -74.0, None, None),
        ("node", {"source:wikidata": "gibberish"}, 40.0, -74.0, None, None),
        ("node", {"wikidata:note": "gibberish"}, 40.0, -74.0, None, None),
        ("node", {"wikidata": "Q106617236"}, 40.0, -74.0, None, None),  # whitelist
        ("node", {"information": "board", "wikipedia": "en:Megapolis"}, 40.0, -74.0,
         "information board with wikipedia tag, not subject:wikipedia",
         {"pre": {"wikipedia": "en:Megapolis", "information": "board"}}),
        ("node", {"information": "board", "wikidata": "Q100"}, 40.0, -74.0,
         "information board with wikidata tag, not subject:wikidata",
         {"pre": {"wikidata": "Q100", "information": "board"}}),
        # [sic] both prerequisite values from bridge:wikipedia (:520)
        ("way", {"bridge:wikipedia": "en:Megapolis"}, 40.0, -74.0,
         "bridge:wikipedia - move to bridge outline",
         {"pre": {"bridge:wikipedia": "en:Megapolis", "bridge:wikidata": "en:Megapolis"}}),
        ("node", {"wikipedia": "en:Megapolis", "wikidata": "Q101"}, 40.0, -74.0,
         "wikipedia wikidata mismatch",
         {"pre": {"wikidata": "Q101", "wikipedia": "en:Megapolis"}}),
        ("node", {"wikipedia": "en:Megapolis", "wikidata": "Q99100"}, 40.0, -74.0,
         "wikipedia wikidata mismatch - follow wikidata redirect",
         {"pre": {"wikidata": "Q99100", "wikipedia": "en:Megapolis"}}),
        ("node", {"wikipedia": "en:Megapolis City", "wikidata": "Q100"}, 40.0, -74.0,
         "wikipedia wikidata mismatch - follow wikipedia redirect",
         {"pre": {"wikidata": "Q100", "wikipedia": "en:Megapolis City"},
          "prop": [{"from": {"wikipedia": "en:Megapolis City"}, "to": {"wikipedia": "en:Megapolis"}}]}),
        ("node", {"wikipedia": "en:Megapolis (disambiguation)", "wikidata": "Q100"}, 40.0, -74.0,
         "wikipedia wikidata mismatch - wikipedia points to disambiguation page and wikidata does not",
         {"pre": {"wikidata": "Q100", "wikipedia": "en:Megapolis (disambiguation)"},
          "prop": [{"from": {"wikipedia": "en:Megapolis (disambiguation)"}, "to": {"wikipedia": "en:Megapolis"}}]}),
        ("node", {"wikidata": "Q999001"}, 40.0, -74.0, "link to a disambiguation page",
         {"pre": {"wikidata": "Q999001"}}),
        ("node", {"wikidata": "Q999002"}, 40.0, -74.0, "link to a list",
         {"pre": {"wikidata": "Q999002"}}),
        ("node", {"wikidata": "Q7501155"}, 40.0, -74.0, "no longer existing object (according to Wikidata)",
         {"pre": {"wikidata": "Q7501155"}}),
        # [sic] key 'wikidata' for the brand:wikidata value (:792)
        ("node", {"brand:wikidata": "Q7501155;Q6746", "shop": "supermarket"}, 40.0, -74.0,
         "no longer existing brand (according to Wikidata) - and marked as active shop in OSM",
         {"pre": {"wikidata": "Q7501155;Q6746"}}),
        ("node", {"brand:wikidata": "Q7501155", "disused:shop": "yes"}, 40.0, -74.0, None, None),
        ("node", {"wikidata": "Q777001", "teryt:simc": "0000000"}, 52.0, 19.0,
         "mismatching teryt:simc codes in wikidata and in osm element",
         {"pre": {"wikidata": "Q777001", "teryt:simc": "0000000"}}),
        ("node", {"wikidata": "Q777001", "teryt:simc": "0912345", "wikipedia": "en:Megapolis"}, 52.0, 19.0,
         "wikipedia needs to be updated based on wikidata code and teryt:simc identifier",
         {"pre": {"wikidata": "Q777001", "teryt:simc": "0912345", "wikipedia": "en:Megapolis"}}),
        ("node", {"wikidata": "Q777002", "teryt:simc": "0912399", "wikipedia": "en:Megapolis"}, 52.1, 19.1,
         "wikipedia tag needs to be removed based on wikidata code and teryt:simc identifier",
         {"pre": {"wikidata": "Q777002", "teryt:simc": "0912399", "wikipedia": "en:Megapolis"}}),
        ("node", {"wikidata": "Q888001"}, 40.0, -74.0,
         "should use a secondary wikipedia tag - linking from wikidata tag to a company that has multiple locations",
         {"pre": {"wikidata": "Q888001"}}),
        ("node", {"wikidata": "Q888002"}, 40.0, -74.0, None, None),  # P2046 area -> skip HQ check
        ("node", {"wikidata": "Q889001"}, 40.0, -74.0,
         "should use a secondary wikipedia tag - linking from wikidata tag to a spacecraft",
         {"pre": {"wikidata": "Q889001"}}),
        ("node", {"wikidata": "Q889002"}, 40.0, -74.0,
         "should use a secondary wikipedia tag - linking from wikidata tag to an uncoordinable generic object",
         {"pre": {"wikidata": "Q889002"}}),
        ("node", {"wikipedia": "de:Altstadt"}, 52.5, 13.4, "wikidata from wikipedia tag",
         {"pre": {"wikipedia": "de:Altstadt", "wikidata": None}}),
        ("node", {"wikidata": "Q104"}, -33.9, 151.2, "wikipedia from wikidata tag, unexpected language",
         {"pre": {"wikipedia": None, "wikidata": "Q104"},
          "prop": [{"from": {"wikipedia": None}, "to": {"wikipedia": "en:Hilltop"}}]}),
        # effective wikipedia (:410-414) is null here: no wikipedia tag, no sitelink
        ("node", {"wikidata": BLACKLISTED_FIXTURE_QID}, 40.0, -74.0,
         "blacklisted connection with known replacement",
         {"pre": {"wikipedia": None, "wikidata": BLACKLISTED_FIXTURE_QID}}),
        ("node", {"wikipedia": "de:Altstadt", "wikidata": "Q101", "wikipedia:de": "Altstadt"}, 52.5, 13.4,
         "wikipedia tag in an outdated form for removal",
         {"pre": {"wikidata": "Q101", "wikipedia": "de:Altstadt", "wikipedia:de": "Altstadt"},
          "prop": [{"from": {"wikipedia:de": "Altstadt"}, "to": {}}]}),
        ("node", {"wikipedia:de": "Altstadt"}, 52.5, 13.4,
         "wikipedia tag from wikipedia tag in an outdated form",
         {"pre": {"wikidata": None, "wikipedia": None, "wikipedia:de": "Altstadt"},
          "prop": [{"from": {"wikipedia": None}, "to": {"wikipedia": "de:Altstadt"}}]}),
        ("node", {"wikipedia": "de:Altstadt", "wikidata": "Q100", "wikipedia:de": "Altstadt"}, 52.5, 13.4,
         "wikipedia tag in outdated form and there is mismatch between links",
         {"pre": {"wikidata": "Q100", "wikipedia": "de:Altstadt", "wikipedia:de": "Altstadt"}}),
        ("relation", {"type": "person", "wikidata": "Saturn"}, 40.0, -74.0, "FILTERED", None),
        ("node", {"name:etymology:wikidata:missing": "yes"}, 40.0, -74.0, "name:etymology:wikidata:missing",
         {"pre": {"name:etymology:wikidata:missing": "yes"}}),
        ("node", {"wikipedia": "dk:Something"}, 40.0, -74.0, "wikipedia tag using redirecting language code",
         {"pre": {"wikipedia": "dk:Something"}}),
        ("node", {"wikipedia": "xx:Something"}, 40.0, -74.0, "malformed wikipedia tag - nonexisting language code",
         {"pre": {"wikipedia": "xx:Something"}}),
        ("node", {"wikidata": "Q999003"}, 40.0, -74.0, None, None),  # ambiguous item -> skipped
        # taxon family (test_wikimedia_link_issue_reporter.py:568-582)
        ("node", {"species:wikidata": "Q156895"}, 40.0, -74.0, None, None),
        ("node", {"species:wikidata": "Q42292"}, 40.0, -74.0,
         "species secondary tag links something that is not species according to wikidata (checking P105)",
         {"pre": {"species:wikidata": "Q42292", "species:wikipedia": None}}),
        ("node", {"species:wikidata": "Q100"}, 40.0, -74.0,
         "species secondary tag links something that is not species according to wikidata (checking P105)",
         {"pre": {"species:wikidata": "Q100", "species:wikipedia": None}}),
        ("node", {"genus:wikidata": "Q42292"}, 40.0, -74.0, None, None),
        ("node", {"genus:wikidata": "Q156895"}, 40.0, -74.0,
         "genus secondary tag links something that is not genus according to wikidata (checking P105)",
         {"pre": {"genus:wikidata": "Q156895", "genus:wikipedia": None}}),
        ("node", {"taxon:wikidata": "Q777100"}, 40.0, -74.0, None, None),
        ("node", {"taxon:wikidata": "Q100"}, 40.0, -74.0,
         "taxon secondary tag links something that is not taxon according to wikidata (checking regular ontology)",
         {"pre": {"taxon:wikidata": "Q100", "taxon:wikipedia": None}}),
        # bot-wikipedia check with no expected language (:1224-1232)
        ("node", {"wikipedia": "ceb:Cebuano Place", "wikidata": "Q555003"}, 10.0, 123.0,
         "wikipedia tag links bot wikipedia",
         {"pre": {"wikipedia": "ceb:Cebuano Place", "wikidata": "Q555003"}}),
        # prefixed collision (test_wikimedia_link_issue_reporter.py:451-461)
        ("node", {"brand:wikidata": "Q177054", "brand:wikipedia": "en:Megapolis"}, 40.0, -74.0,
         "wikipedia wikidata mismatch - for brand prefixed tags",
         {"pre": {"brand:wikidata": "Q177054", "brand:wikipedia": "en:Megapolis"}}),
        # malformed secondary variant for a non-':wikipedia'-suffixed key (:634-639)
        ("node", {"mywikipedia": "garbage?"}, 40.0, -74.0,
         "malformed secondary wikipedia tag for mywikipedia tag",
         {"pre": {"mywikipedia": "garbage?"}}),
        # redirect page with its own wikidata item -> clean (:403-412 analogue)
        ("node", {"wikipedia": "it:Savazza2", "wikidata": "Q555010"}, 41.9, 12.5, None, None),
        # wikipedia 404 with full report payload (:701-716)
        ("node", {"wikipedia": "en:No Such Article"}, 40.0, -74.0, "wikipedia tag links to 404",
         {"pre": {"wikipedia": "en:No Such Article"},
          "prop": [{"from": {"wikipedia": "en:No Such Article"}, "to": {"wikipedia": None}}]}),
        # P2 reducible-to-point (:2703-2710): a route relation / river has no
        # single location -> the HQ-distance check must not fire; a way does
        ("relation", {"type": "route", "wikidata": "Q888001"}, 40.0, -74.0, None, None),
        ("way", {"waterway": "river", "wikidata": "Q888001"}, 40.0, -74.0, None, None),
        ("way", {"building": "yes", "wikidata": "Q888001"}, 40.0, -74.0,
         "should use a secondary wikipedia tag - linking from wikidata tag to a company that has multiple locations",
         {"pre": {"wikidata": "Q888001"}}),
    ]


def generate_test_elements() -> pd.DataFrame:
    """Golden element/tag cases (FIXTURES.md §5) with expected error_id."""
    return pd.DataFrame(
        [
            {"element_id": i, "object_type": ot, "tags": tags, "lat": la, "lon": lo,
             "expected_error_id": exp}
            for i, (ot, tags, la, lo, exp, _pay) in enumerate(_golden_cases())
        ]
    )


def ser_map(d: dict | None) -> str | None:
    """Canonical serialization of a string map for oracle comparison:
    sorted 'k=v' joined by '|', None value -> '∅'. None map -> None."""
    if d is None:
        return None
    return "|".join(f"{k}={'∅' if d[k] is None else d[k]}" for k in sorted(d))


def ser_changes(chs: list | None) -> str | None:
    if chs is None:
        return None
    return ";;".join(
        "from{" + ser_map(c["from"]) + "}to{" + ser_map(c["to"]) + "}" for c in chs
    )


def golden_payload_expectations() -> pd.DataFrame:
    """element_id -> expected prerequisite / proposed_tagging_changes (both
    canonically serialized) for every reportable golden case."""
    rows = []
    for i, (ot, tags, la, lo, exp, pay) in enumerate(_golden_cases()):
        if exp in (None, "FILTERED"):
            continue
        rows.append({
            "element_id": i,
            "expected_error_id": exp,
            "tags": tags,
            "expected_prerequisite": ser_map((pay or {}).get("pre")),
            "expected_proposed": ser_changes((pay or {}).get("prop")),
            "expected_proposed_raw": (pay or {}).get("prop"),
        })
    return pd.DataFrame(rows)


# ------------------------------------------ classification corpus (875 QIDs)

def generate_classification_corpus() -> dict[str, pd.DataFrame]:
    """Ontology-classification corpus at the reference test's cardinality.

    The QID list and linkable/unlinkable expectations come from the
    reference's own 833-test suite (test_wikidata_structure.py,
    assert_linkability / assert_unlinkability sites; extracted to
    classification_cases.json). The real suite consults live Wikidata; this
    sandbox has no network, so for each case we synthesize an ontology
    CONSISTENT with the expectation while exercising the classifier
    machinery the suite exists to protect:

      unlinkable case i (94 cases), depth pattern i % 4:
        0: qid -P31-> invalid_type
        1: qid -P31-> mid -P279-> invalid_type          (closure via root)
        2: qid -P279-> invalid_type                     (self P279-closure)
        3: qid -P31-> mid1 -P279-> mid2 -P279-> invalid_type (depth 3)
      linkable case j (781 cases), shape j % 4:
        0: no ontology edges at all
        1: qid -P31-> benign chain (2 hops)
        2: qid -P31-> mid -P279-> IGNORED -P279-> invalid_type
           (ignore list must prune traversal, :1437/:1447-1449)
        3: qid -P31-> Q122754124 (ambiguous)  AND  qid -P31-> invalid_type
           (ambiguity exemption beats the banned ancestor, :1503-1506)

    Unlinkable cases rotate through the invalid_types table; linkable shape-2
    cases rotate through ALL 175 invalid types (each must stay blocked) and
    the full ignore list. QIDs colliding with the blacklist / skip / ignore /
    invalid tables were excluded at extraction time.
    """
    import json as _json

    from wikibrain_spark.functions import knowledge

    with open(os.path.join(os.path.dirname(__file__), "classification_cases.json")) as fh:
        cases = _json.load(fh)
    ignored = knowledge.ontology_ignore_list()
    # an invalid type that is ALSO ignored (Q35127) can never classify an
    # entity — traversal prunes it (reference :1437) — so it cannot carry an
    # unlinkable expectation
    inv = [r for r in knowledge.invalid_types_rows() if r[0] not in set(ignored)]

    entities, edges, elements = [], [], []
    ui = li = 0
    for case in cases:
        qid, expect = case["qid"], case["expect"]
        entities.append({"qid": qid, "label_en": f"case {qid}", "sitelinks": {},
                         "lat": None, "lon": None})
        if expect == "unlinkable":
            inv_qid, what, _repl, _broad = inv[ui % len(inv)]
            d = ui % 4
            if d == 0:
                edges.append((qid, inv_qid, "P31"))
            elif d == 1:
                mid = f"QSYN{ui}A"
                edges += [(qid, mid, "P31"), (mid, inv_qid, "P279")]
            elif d == 2:
                edges.append((qid, inv_qid, "P279"))
            else:
                m1, m2 = f"QSYN{ui}B", f"QSYN{ui}C"
                edges += [(qid, m1, "P31"), (m1, m2, "P279"), (m2, inv_qid, "P279")]
            expected = ("should use a secondary wikipedia tag - linking from "
                        f"wikidata tag to {what}")
            ui += 1
        else:
            s = li % 4
            if s == 1:
                edges += [(qid, "QBENIGN0", "P31")]
            elif s == 2:
                mid = f"QLNK{li}"
                ign = ignored[li % len(ignored)]
                inv_qid = inv[li % len(inv)][0]
                edges += [(qid, mid, "P31"), (mid, ign, "P279"), (ign, inv_qid, "P279")]
            elif s == 3:
                inv_qid = inv[li % len(inv)][0]
                edges += [(qid, "Q122754124", "P31"), (qid, inv_qid, "P31")]
            expected = None
            li += 1
        elements.append({"qid": qid, "expected_error_id": expected})

    edges += [("QBENIGN0", "QBENIGN1", "P279"), ("QBENIGN1", "QBENIGN2", "P279")]

    adv_entities, adv_edges, adv_elements = _adversarial_topology_cases(inv, ignored)
    entities += adv_entities
    edges += adv_edges
    elements += adv_elements

    return {
        "entities": pd.DataFrame(entities),
        "edges": pd.DataFrame(edges, columns=["child_qid", "parent_qid", "pid"]),
        "elements": pd.DataFrame(
            [{"element_id": i, "object_type": "node", "tags": {"wikidata": r["qid"]},
              "lat": 40.0, "lon": -74.0, "expected_error_id": r["expected_error_id"]}
             for i, r in enumerate(elements)]
        ),
    }


def _advq(family: int, i: int) -> str:
    """Adversarial-case entity QIDs must satisfy the malformed-tag regex
    (Q\\d+); Q99xxxxxxx is far above any real/extracted QID in the corpus."""
    return f"Q99{family:02d}{i:05d}"


def _unlink_error(what: str) -> str:
    return ("should use a secondary wikipedia tag - linking from "
            f"wikidata tag to {what}")


def _adversarial_topology_cases(inv, ignored) -> tuple[list, list, list]:
    """Adversarial ontology topologies (round-2 verdict 'next #5'): the 875
    reference-suite cases exercise the classifier machinery on straight
    chains; real Wikidata has diamonds, hub fan-out, cycles, and entities
    with BOTH broad and specific invalid ancestors. These cases pin the
    topology-sensitive behaviors:

      - diamonds: multi-parent reconvergence on one invalid type must dedupe
        to a single report (reference iterates duplicates, we DISTINCT);
      - hub fan-out: wide benign fan-out must not mask one bad path, and an
        ignored hub must prune its whole subtree (:1437, :1447-1449);
      - ignore-list bypass: pruning kills the PATH through an ignored node,
        not the TYPE — a second path to the same invalid type still reports;
      - broad+specific conflict on the same QID: the non-broad reason wins
        regardless of which path is shallower (:1524-1529);
      - two specifics: the canonical tie-break is min(type_qid) — the
        (lo-deep, hi-shallow) and (lo-shallow, hi-deep) arrangements both
        expect the lexicographically-smaller type's reason, so a regression
        to traversal/depth order flips at least one of them (the reference
        itself is order-sensitive there; min-qid is the documented
        canonicalization, see linkres.py module docstring);
      - two broads: same canonicalization when ONLY broad reasons exist;
      - ambiguity exemption: Q122754124 found DEEP in the closure still
        exempts (:1503-1506), but an ambiguous marker hidden BEHIND an
        ignored node is invisible, so the invalid type still reports;
      - entity-level skips: an entity that is itself on the ignore list, or
        one of the two hardcoded skip QIDs (:1480-1493), is never reported
        even with a direct invalid P31;
      - P279 cycles: closure must terminate and still find (or correctly
        not find) the invalid ancestor through a cycle.
    """
    nb = sorted([r for r in inv if not r[3]], key=lambda r: r[0])
    br = sorted([r for r in inv if r[3]], key=lambda r: r[0])
    entities: list[dict] = []
    edges: list[tuple[str, str, str]] = []
    elements: list[dict] = []

    def add(qid: str, expected: str | None, *case_edges: tuple[str, str, str]):
        entities.append({"qid": qid, "label_en": f"adv {qid}", "sitelinks": {},
                         "lat": None, "lon": None})
        edges.extend(case_edges)
        elements.append({"qid": qid, "expected_error_id": expected})

    # shared benign scaffolding: a 15-node benign pool (fan-out targets)
    benign = [f"QADVB{i}" for i in range(15)]
    for i in range(14):
        edges.append((benign[i], benign[i + 1], "P279"))

    # 1+2: diamonds reconverging on an invalid vs a benign apex
    for i in range(8):
        q, m, d1, d2 = (_advq(1, i), f"QADV1M{i}", f"QADV1D{i}a", f"QADV1D{i}b")
        x = nb[(7 * i) % len(nb)]
        add(q, _unlink_error(x[1]),
            (q, m, "P31"), (m, d1, "P279"), (m, d2, "P279"),
            (d1, x[0], "P279"), (d2, x[0], "P279"))
        qb, mb, db1, db2 = (_advq(2, i), f"QADV2M{i}", f"QADV2D{i}a", f"QADV2D{i}b")
        add(qb, None,
            (qb, mb, "P31"), (mb, db1, "P279"), (mb, db2, "P279"),
            (db1, benign[i], "P279"), (db2, benign[i], "P279"))

    # 3+4: hub fan-out — 15 benign parents, with/without one bad path
    for i in range(6):
        q, hub, c = _advq(3, i), f"QADV3H{i}", f"QADV3C{i}"
        x = nb[(11 * i + 3) % len(nb)]
        fan = [(hub, b, "P279") for b in benign]
        add(q, _unlink_error(x[1]),
            (q, hub, "P31"), *fan, (hub, c, "P279"), (c, x[0], "P279"))
        qc, hubc = _advq(4, i), f"QADV4H{i}"
        add(qc, None, (qc, hubc, "P31"), *[(hubc, b, "P279") for b in benign])

    # 5+6: ignore-list pruning vs a bypass path to the same invalid type
    for i in range(6):
        q, m = _advq(5, i), f"QADV5M{i}"
        ign = ignored[(5 * i) % len(ignored)]
        x = nb[(13 * i + 1) % len(nb)]
        add(q, None,
            (q, m, "P31"), (m, ign, "P279"), (ign, x[0], "P279"),
            *[(m, b, "P279") for b in benign[:10]])
        qb, mb, cb = _advq(6, i), f"QADV6M{i}", f"QADV6C{i}"
        ign2 = ignored[(5 * i + 2) % len(ignored)]
        x2 = nb[(13 * i + 4) % len(nb)]
        add(qb, _unlink_error(x2[1]),
            (qb, mb, "P31"), (mb, ign2, "P279"), (ign2, x2[0], "P279"),
            (mb, cb, "P279"), (cb, x2[0], "P279"))

    # 7: broad shallow + specific deep -> specific wins
    for i in range(8):
        q, m2, m3 = _advq(7, i), f"QADV7M{i}a", f"QADV7M{i}b"
        b = br[(3 * i) % len(br)]
        s = nb[(17 * i + 9) % len(nb)]
        add(q, _unlink_error(s[1]),
            (q, b[0], "P31"), (q, m2, "P31"), (m2, m3, "P279"), (m3, s[0], "P279"))

    # 8: two specifics with distinct reasons — min(type_qid) wins in BOTH
    # depth arrangements (a traversal/depth-order regression flips one)
    pairs = []
    for lo in nb:
        for hi in nb[::-1]:
            if lo[0] < hi[0] and lo[1] != hi[1]:
                pairs.append((lo, hi))
                break
        if len(pairs) == 8:
            break
    for i, (lo, hi) in enumerate(pairs):
        q, m = _advq(8, i), f"QADV8M{i}"
        if i % 2 == 0:  # hi shallow (direct P31), lo deep
            add(q, _unlink_error(lo[1]),
                (q, hi[0], "P31"), (q, m, "P31"), (m, lo[0], "P279"))
        else:           # lo shallow, hi deep
            add(q, _unlink_error(lo[1]),
                (q, lo[0], "P31"), (q, m, "P31"), (m, hi[0], "P279"))

    # 9: two broads with distinct reasons — min(type_qid) canonicalization
    br_pairs = []
    for lo in br:
        for hi in br[::-1]:
            if lo[0] < hi[0] and lo[1] != hi[1]:
                br_pairs.append((lo, hi))
                break
        if len(br_pairs) == 4:
            break
    for i, (lo, hi) in enumerate(br_pairs):
        q, m = _advq(9, i), f"QADV9M{i}"
        add(q, _unlink_error(lo[1]),
            (q, hi[0], "P31"), (q, m, "P31"), (m, lo[0], "P279"))

    # 10: ambiguity exemption found deep in the closure beats a direct
    # invalid type
    for i in range(6):
        q, m = _advq(10, i), f"QADV10M{i}"
        x = nb[(19 * i) % len(nb)]
        add(q, None,
            (q, m, "P31"), (m, "Q122754124", "P279"), (q, x[0], "P31"))

    # 11: ambiguous marker hidden behind an ignored node is invisible —
    # the invalid type still reports
    for i in range(4):
        q, m = _advq(11, i), f"QADV11M{i}"
        ign = ignored[(7 * i + 1) % len(ignored)]
        x = nb[(23 * i + 2) % len(nb)]
        add(q, _unlink_error(x[1]),
            (q, m, "P31"), (m, ign, "P279"), (ign, "Q122754124", "P279"),
            (q, x[0], "P31"))

    # 12: entity-level skips — the entity itself is ignore-listed or one of
    # the two hardcoded skip QIDs; a direct invalid P31 must NOT report
    skip_entities = [ignored[0], ignored[1], "Q5338613", "Q5371519"]
    for i, sq in enumerate(skip_entities):
        x = nb[(29 * i + 5) % len(nb)]
        add(sq, None, (sq, x[0], "P31"))

    # 13+14: P279 cycles (closure must terminate), with/without an invalid
    # ancestor reachable through the cycle
    for i in range(4):
        q, a, b = _advq(13, i), f"QADV13A{i}", f"QADV13B{i}"
        x = nb[(31 * i + 7) % len(nb)]
        add(q, _unlink_error(x[1]),
            (q, a, "P279"), (a, b, "P279"), (b, a, "P279"), (b, x[0], "P279"))
        qc, ac, bc = _advq(14, i), f"QADV14A{i}", f"QADV14B{i}"
        add(qc, None,
            (qc, ac, "P279"), (ac, bc, "P279"), (bc, ac, "P279"),
            (bc, benign[i], "P279"))

    return entities, edges, elements


# ------------------------------------------------------------- parquet cache

def materialize(out_dir: str, n_images: int = 2000) -> dict[str, str]:
    """Write all synthetic tables as parquet under out_dir (idempotent cache).

    Returns {table_name: path}. Uses pyarrow via pandas — no Spark needed, so
    generation never competes with the session under test.
    """
    os.makedirs(out_dir, exist_ok=True)
    # _v2: boundaries moved to the multipolygon `rings` schema (+4 complex
    # fixtures) — the bump invalidates caches generated under the old schema
    marker = os.path.join(out_dir, f".done_{n_images}_v2")
    paths = {}
    names = ["images", "expected_geotags", "boundaries", "expected_tiles",
             "wikidata", "wikidata_claims", "ontology_edges", "wikidata_redirects",
             "wikipedia_pages", "wikipedia_redirects", "disambig_links", "test_elements"]
    for nm in names:
        paths[nm] = os.path.join(out_dir, f"{nm}.parquet")
    if os.path.exists(marker):
        return paths
    rng = np.random.default_rng(SEED)
    boundaries = generate_boundaries(rng)
    images, geotags = generate_images(n_images, rng)
    tiles = expected_tiles(geotags, boundaries)
    dims = generate_wikidata_dim()
    frames = {"images": images, "expected_geotags": geotags,
              "boundaries": boundaries, "expected_tiles": tiles,
              "test_elements": generate_test_elements(), **dims}
    for nm, frame in frames.items():
        frame.to_parquet(paths[nm], index=False)
    open(marker, "w").close()
    return paths
