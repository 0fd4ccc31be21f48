"""PySpark-native analytics engine with the capability surface of the
reference Akka-Streams NPM dependency pipeline
(Panda291/AkkaStreamProcessNpmPackageDependencies), generalized to a full
batch + streaming operator library designed for 100 TB scale.

Layout
------
- ``session``    : tuned SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
- ``schemas``    : StructType schemas (npm registry doc, testdata tables)
- ``fixtures``   : deterministic hermetic NPM fixtures (replace live registry)
- ``sources``    : readers + custom rate-limited registry DataSource
- ``fetch``      : registry fetch engine behind the registry source (retry, politeness)
- ``operators``  : the operator library — every op is ``DataFrame -> DataFrame``
- ``functions``  : reusable Column-expression helpers (cosine, minhash, ...)
- ``streaming``  : Structured Streaming pipelines (event-time, watermarks)
"""

__version__ = "0.1.0"
