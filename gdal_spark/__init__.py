"""gdal_spark — a PySpark-native spatial-join + tiling analytics engine.

A from-scratch distributed re-expression of the reference engine's
(GDAL, /root/reference) query + data-processing capabilities as idiomatic
PySpark: DataFrame/SQL logical plans, Arrow-vectorized pandas UDFs for
geometry refinement and raster kernels, WebMercator cell encoding as the
spatial partition/join key, broadcast polygon indexes, and deterministic
distributed raster checksums.

Not a port: the reference is a single-process C++ pull-iterator engine;
this engine declares logical plans and lets Catalyst/Tungsten/AQE pick
physical strategies, dropping to NumPy-vectorized Arrow UDFs only for
geometry/raster math Spark cannot express natively.
"""

__version__ = "0.1.0"

from gdal_spark import pyworker
from gdal_spark.session import get_spark  # noqa: F401

pyworker.install()
