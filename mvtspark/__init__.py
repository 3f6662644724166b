"""mvtspark — a PySpark-native spatial-join + tiling engine.

Brand-new engine (NOT a port) with the query/data-processing
capabilities of mapbox/vector-tile-cs, re-expressed Spark-first:

- ``kernels/``   pure-numpy codecs & geometry math (zero Spark imports)
- ``functions/`` Spark Column expressions + vectorized pandas/Arrow UDFs
- ``sources/``   scans & sinks (binaryFile MVT scan, synthetic images,
                 checkpoint/lineage table)
- ``operators/`` relational/spatial operators (cell join, PIP refine,
                 kNN ring join, salted agg, dedup, ANN, text analysis)
- ``plans/``     the north-star plan builder ``tile_plan`` (assign → PIP
                 join → salted counts → MVT encode) and the flagship
- ``streaming/`` Structured Streaming wrappers over the same kernels

Reference parity citations use ``/root/reference`` file:line form, e.g.
``src/Geometry/DecodeGeometry.cs:31-91``.
"""

__version__ = "0.1.0"
