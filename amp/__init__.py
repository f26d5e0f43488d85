"""amp — a from-scratch PySpark-native record-linkage / entity-resolution engine.

Re-expresses the semantics of the reference pipeline (TFMV/AddressMatchPro,
a Go + Postgres + Python matcher, see SURVEY.md) as an idiomatic Spark
DataFrame job over a table of source-code files:

    (repo string, path string, commit string, lang string, content string)

Stages (each checkpointable, each a pure DataFrame -> DataFrame transform):

    normalize -> features (broadcast IDF + one-pass side features)
              -> blocking -> pair scoring -> rank/top-k -> edges
              -> connected components -> clusters

Everything is DataFrame/Catalyst-first; Python appears only inside
vectorized pandas/Arrow UDFs (never per-row Spark UDFs).
"""

__version__ = "0.1.0"
