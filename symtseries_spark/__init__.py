"""symtseries_spark — PySpark-native time-series rollup / iSAX engine.

A from-scratch Spark-first engine with the query and data-processing
capabilities of trink/symtseries v0.5.0 (SAX/iSAX symbolization + mindist),
extended per the north rule with continuous-aggregate rollup tiers
(1m/1h/1d), gap-fill, decimal/grid-bitmap compression, an iSAX-word
inverted index, checkpoint/lineage, and web-scale text-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).
"""

from symtseries_spark.kernel import (  # noqa: F401
    MAX_CARDINALITY,
    MAX_N,
    MAX_W,
    MIN_CARDINALITY,
    STAT_EPS,
    Word,
    __version__,
    breakpoints,
    dist_matrix,
    mindist,
    symbolize,
    validate_nwc,
    words_equal,
)

version = __version__
