"""Flagship query: per (package, version), count runtime and dev
dependencies — the reference's single end-to-end pipeline
(reference: src/main/scala/Main.scala:97-107), re-expressed as declarative
DataFrame transformations.

Stage-by-stage mapping (SURVEY.md §2):

- FileIO.fromPath + gunzip + utf8 + split lines (Main.scala:20-24)
    -> ``spark.read.text`` (handles .gz transparently, line-delimited)
- map(NpmPackage) (Main.scala:25)                 -> column alias
- throttle/buffer (Main.scala:32,100,104)         -> streaming source options
- fetchDependencies HTTP+parse (NpmPackage.scala:7-22)
    -> hermetic join to frozen docs (or the ``npmregistry`` source), then
       PERMISSIVE ``from_json`` — missing keys become NULLs, replacing
       the reference's swallowed exceptions
- mapConcat(versionList) (Main.scala:37-38)       -> ``explode`` of the versions map
- Broadcast/Zip/Balance/Merge count graph (Main.scala:40-80)
    -> one projection with two column expressions; parallelism is the
       runtime's job (partition-level), not hand-wired graph topology
- Flow.fold into nested mutable map (Main.scala:82-86)
    -> groupBy(package, version) agg; last-writer-wins upsert
       (AccumulatedDependencyCount.scala:8-12) == any value-equivalent agg
- ordered console report (Main.scala:88-95)       -> ORDER BY package, version

Scale: no driver-side state anywhere; the "accumulator" is a distributed
hash aggregation that spills. Each doc is parsed once: ``explode_versions``
is an outer explode plus a null filter, because Catalyst's
InferFiltersFromGenerate turns an inner explode into
``size(from_json(doc).versions) > 0`` on the scan and parses every doc
three times (twice in that filter, once in the projection).

Parallelism (the reference's ``Balance(2)``): the parse would run in as
many tasks as the docs scan has splits, and a parquet file of one row
group (the benchmark's 7.4 MB docs) is one split that holds data. So the
matched docs are hash-partitioned on ``name`` after the join, and parse,
explode and both halves of the aggregation run in one stage on every
core: ``HashPartitioning(name)`` already satisfies the ``(package,
version)`` grouping, so there is no second shuffle. The report sorts in
one partition, so no range-sampling job parses the docs a second time.
Against the in-place parse and a range sort, that took a ``batch_docs``
pass from 1.278 to 0.985 s (medians of 12 interleaved runs on 4 vCPUs,
12 wins; 11 of 12 in a second set on a noisier host), at the price of
shuffling the 7.3 MB of matched docs instead of 0.8 MB of partial
aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import REGISTRY_SCHEMA


def load_package_list(spark: SparkSession, path: str) -> DataFrame:
    """S1-S4: file scan + gunzip + decode + line split, in one reader.
    Spark's text source auto-decodes .gz by extension (single-partition,
    serial — the same behavior as the reference's streaming gunzip)."""
    return spark.read.text(path).select(F.trim("value").alias("name")).filter(F.length("name") > 0)


def attach_registry_docs(packages: DataFrame, docs: DataFrame) -> DataFrame:
    """P2 (hermetic half): replace the live HTTP fetch with an equi-join to
    frozen response rows. Non-200 responses are dropped exactly like the
    status gate at NpmPackage.scala:9. Catalyst picks the join: the
    package list is broadcast while it is under the session's 32 MB
    threshold, and above it both sides shuffle on ``name``.

    The matched docs are hash-partitioned on ``name``, so the parse
    downstream runs on every core whatever the width of the docs scan.
    The exchange takes its width from ``spark.sql.shuffle.partitions``
    and lets AQE coalesce it by bytes: the 12-doc fixture parses in one
    task instead of paying a task per core."""
    return packages.join(docs, "name", "inner").filter(F.col("status_code") == 200).repartition("name")


def parse_registry(df: DataFrame, doc_col: str = "doc") -> DataFrame:
    """P2 (parse half): ujson.read -> PERMISSIVE from_json. Malformed docs
    and absent keys yield NULLs instead of exceptions."""
    return df.withColumn("parsed", F.from_json(F.col(doc_col), REGISTRY_SCHEMA))


def explode_versions(df: DataFrame) -> DataFrame:
    """P3: mapConcat(versionList) -> explode over the versions MapType.
    Packages whose doc lacks a usable ``versions`` object contribute no
    rows, matching the swallow at NpmPackage.scala:17-19.

    Written as ``explode_outer`` plus ``version IS NOT NULL``: map keys
    are never null, and a null or empty map yields one null row, which
    the filter drops, so the rows are those of an inner explode. An inner
    explode would let Catalyst infer ``size(versions) > 0 AND
    isnotnull(versions)`` and push it below the parse, copying
    ``from_json`` into that filter: every doc would be parsed three
    times instead of once."""
    return df.select(
        F.col("name").alias("package"),
        F.explode_outer("parsed.versions").alias("version", "vdoc"),
    ).filter(F.col("version").isNotNull())


def dependency_edges(ver: DataFrame) -> DataFrame:
    """(package, dep_name, dep_type) for every dependency named by a
    version row of ``explode_versions``; ``dep_type`` is ``runtime`` or
    ``dev``. Both kinds come from one select over one array, so the docs
    are scanned and parsed once, not once per kind."""
    empty = F.array().cast("array<string>")

    def tagged(field: str, kind: str):
        keys = F.coalesce(F.map_keys(f"vdoc.{field}"), empty)
        return F.transform(keys, lambda k: F.struct(k.alias("dep_name"), F.lit(kind).alias("dep_type")))

    return ver.select(
        "package", F.inline(F.concat(tagged("dependencies", "runtime"), tagged("devDependencies", "dev")))
    )


def count_dependencies(df: DataFrame) -> DataFrame:
    """P4-P7 + G2/G3 collapsed: the reference broadcasts each version to two
    counter branches and zips the pair back together (Main.scala:46-61);
    in a DAG engine that is simply two column expressions in one select.
    ``coalesce(map_keys(...), array())`` reproduces the missing-key -> 0
    semantics (Version.scala:10-12, 18-20)."""
    empty = F.array().cast("array<string>")
    return df.select(
        "package",
        "version",
        F.size(F.coalesce(F.map_keys("vdoc.dependencies"), empty)).cast("long").alias("dependencies"),
        F.size(F.coalesce(F.map_keys("vdoc.devDependencies"), empty)).cast("long").alias("devDependencies"),
    )


def accumulate_counts(df: DataFrame) -> DataFrame:
    """A1: Flow.fold's nested mutable map -> distributed hash aggregation.
    Each (package, version) key carries one value per upstream row and the
    reference's map-insert is last-writer-wins, so ``max`` is
    value-equivalent and partial-aggregates map-side. Works identically in
    streaming `complete` mode, where Spark's state store replaces the
    hand-rolled heap map (scale ceiling of the reference)."""
    return df.groupBy("package", "version").agg(
        F.max("dependencies").alias("dependencies"),
        F.max("devDependencies").alias("devDependencies"),
    )


def report(df: DataFrame) -> DataFrame:
    """K1: the fold-then-nested-print exists to group output by package
    (PDF p.2); declaratively that intent is ORDER BY package, version.

    The sort runs in one partition: the report is one row per version
    (29.2k rows for the 42 MB of JSON in the benchmark's docs), while a
    range-partitioned sort would first run a sampling job over its whole
    input, parse included."""
    return df.repartition(1).orderBy("package", "version")


def nested_report(df: DataFrame) -> DataFrame:
    """Optional: materialize the reference's literal nested shape
    package -> version -> (runtime, dev) (AccumulatedDependencyCount.scala:4)
    as a MapType column, for API parity."""
    return (
        df.groupBy("package")
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "version",
                            F.struct(
                                F.col("dependencies").alias("runtime"),
                                F.col("devDependencies").alias("dev"),
                            ),
                        )
                    )
                )
            ).alias("versions")
        )
        .orderBy("package")
    )


def dependency_counts(packages: DataFrame, docs: DataFrame) -> DataFrame:
    """The full flagship pipeline, hermetic batch form."""
    return report(
        accumulate_counts(
            count_dependencies(explode_versions(parse_registry(attach_registry_docs(packages, docs))))
        )
    )
