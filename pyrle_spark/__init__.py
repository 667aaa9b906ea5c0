"""pyrle_spark — PySpark-native columnar lightweight-compression engine.

Generalizes the reference's (pyranges/pyrle) run-length-encoding semantics
into a distributed, Spark-first codec suite: RLE, dictionary, FSST,
bit-packing, and frame-of-reference with stats-driven auto-selection,
over Iceberg-style tables of web pages.

Public layers
-------------
- :class:`pyrle_spark.rle.Rle` — single-vector RLE, reference-compatible.
- :class:`pyrle_spark.rledict.RleDict` — keyed collection, reference-compatible.
- :mod:`pyrle_spark.operators` — distributed DataFrame operators.
- :mod:`pyrle_spark.codecs` — per-column codecs + auto-selector.
- :mod:`pyrle_spark.plans` — the encode/decode pipeline (lineage, resume).
- :mod:`pyrle_spark.sources` — webtext generator + Iceberg-style table I/O.
- :mod:`pyrle_spark.functions` — training-data pipeline ops (dedup, ANN, text).
"""

from pyrle_spark.rle import Rle
from pyrle_spark.rledict import RleDict
from pyrle_spark.session import gate_zip_rereads
from pyrle_spark.sources.rle_io import from_csv

# every UDF of the engine imports this package when a worker unpickles
# it, so each reused Python worker gates its per-task zip re-reads here
gate_zip_rereads()

# reference alias: pyrle exposes PyRles = RleDict (pyrle/__init__.py:10)
PyRles = RleDict

__version__ = "0.1.0"
__all__ = ["Rle", "RleDict", "PyRles", "from_csv", "__version__"]
