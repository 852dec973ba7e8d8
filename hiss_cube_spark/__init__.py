"""hiss_cube_spark — a PySpark-native multi-dimensional analytics engine.

A from-scratch Spark-first engine with the query and data-processing
capabilities of the HiSS-Cube reference (nadvornikjiri/HiSS-Cube): ingest of
multi-resolution observational data (images + spectra) with per-value
uncertainties, spatial indexing (grid cells + pure-numpy nested HEALPix),
spatial cross-match link joins producing cutout references,
inverse-variance-weighted grouped aggregation into dense ML cubes,
unpivoted visualization point tables, external-catalog equi-joins — plus
large-scale training-data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis).

Everything is expressed with the DataFrame API so Catalyst/Tungsten pick the
physical plan; Python kernels only where built-ins genuinely can't express
the semantics (FITS decode, HEALPix math), and then always Arrow-batched.
"""

from hiss_cube_spark.pins import release_rdd_blocks
from hiss_cube_spark.session import get_spark

__all__ = ["get_spark", "release_rdd_blocks"]
__version__ = "0.1.0"
