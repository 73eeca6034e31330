"""board_game_scraper_spark — a from-scratch PySpark-native crawl/analytics engine.

Re-expresses the capabilities of the reference crawler
(recommend-games/board-game-scraper, studied read-only at /root/reference)
as idiomatic PySpark: DataFrame/Catalyst operators, vectorized pandas/Arrow
UDFs, an Iceberg-style snapshot table layer, and a BSP URL-frontier crawl
loop.  No code is copied from the reference; every module cites the
reference behavior (file:line) it reproduces.

Layout
------
- ``session``    SparkSession factory tuned for local[N] and cluster runs
- ``schemas``    explicit StructTypes for every table (no schema inference)
- ``tables``     snapshot/manifest table layer (Iceberg semantics, Parquet)
- ``synth``      deterministic synthetic crawl fixtures (seed 42)
- ``functions``  scalar/vectorized column functions (URL canon, text clean)
- ``operators``  batch operators (merge/dedup/split/labels/text/similarity/cluster)
- ``plans``      crawl planning: frontier scheduling, seen-set, robots, loop
- ``sources``    the fetch stage (synthetic corpus lookup)
"""

__version__ = "0.1.0"
