"""wikibrain_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-grounds the semantics of the reference link-resolution engine
(osm-quality/wikibrain) as geospatial enrichment over a table of
image+caption pairs:

  images --compiled geotag read--> (lat, lon, h3 cells, s2 cell)
         --point-in-polygon join--> OSM boundary polygons (wikipedia/wikidata tags)
         --link-resolution operator library--> validated/enriched rows
         --tile aggregation--> per-cell mosaics / stats

All heavy per-row work is compiled (Java UDFs) or batched (Arrow pandas
UDFs / mapInPandas);
everything else is declarative DataFrame ops so Catalyst can optimize.
"""

__version__ = "0.1.0"

from wikibrain_spark.session import get_spark  # noqa: F401
