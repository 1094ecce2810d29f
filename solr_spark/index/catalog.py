"""Iceberg catalog publication for built indexes.

The north-star deployment persists the index as **Iceberg tables** (the
input corpus is an Iceberg table of source-code repositories). This
sandbox has no ``iceberg-spark-runtime`` jar (and installs are
disallowed), so the build writes its stages as immutable parquet
directories with JSON lineage manifests — a layout deliberately shaped
like Iceberg's contract so publication is a format switch, not a
redesign:

| index layout (this repo)                    | Iceberg equivalent |
|---------------------------------------------|--------------------|
| immutable stage files, overwrite-by-swap    | snapshot isolation (new snapshot per commit) |
| per-stage JSON manifest (inputs, row counts, wall, lineage) | manifest files / snapshot summary metrics |
| ``blocks/segment=S/term_bucket=N`` directory partitioning | identity partition spec on ``(segment, term_bucket)`` |
| NRT commit writes one new segment and term_dict partial; meta.json names the segments, the partials and the deleted docs | append of the new ``segment`` partition + position deletes, one snapshot per commit |
| merge policy merges every segment into one  | ``rewrite_data_files`` compaction |
| named snapshots + journaled restore         | time travel / ``rollback_to_snapshot`` |

On a cluster where the Iceberg runtime IS on the classpath (any real
deployment: ``spark-submit --packages
org.apache.iceberg:iceberg-spark-runtime-...``), :func:`publish_index`
registers every stage as a catalog table with the same partition spec,
and :func:`read_stage` serves the engine from the catalog instead of
the directory. Everything is gated behind :func:`iceberg_available` —
nothing here imports or requires Iceberg at module load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# stage name -> partition columns (mirrors the directory layout the
# parquet build writes: docs in ``batch=<id>`` partitions — 0 for
# build_index, one per incremental append — and blocks by segment (one
# per commit, until a merge) then term bucket; identity transforms only).
# The postings are published as ``InvertedIndex.segments``, the live
# postings decoded from the blocks (a batch's staged postings are gone
# once its commit lands), so they are partitioned by segment too
STAGE_PARTITIONING: dict[str, list[str]] = {
    "analyzed": ["batch"],
    "segments": ["segment"],
    "term_dict": [],
    "blocks": ["segment", "term_bucket"],
}


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath AND a
    Spark catalog is configured to use it (``spark.sql.catalog.<name>``
    set to Iceberg's SparkCatalog)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        return False
    confs = spark.sparkContext.getConf().getAll()
    return any(
        k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
        for k, v in confs
    )


def _require_iceberg(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime/catalog not available in this session. "
            "Run with spark-submit --packages "
            "org.apache.iceberg:iceberg-spark-runtime-<spark>_<scala>:<ver> "
            "and configure spark.sql.catalog.<name>=org.apache.iceberg."
            "spark.SparkCatalog. The parquet stage layout remains fully "
            "functional without it (same snapshot semantics via stage "
            "manifests; see module docstring)."
        )


def publish_index(index, catalog: str, namespace: str) -> list[str]:
    """Register every stage of a built index as an Iceberg table
    ``<catalog>.<namespace>.<stage>`` with the stage's partition spec.
    Returns the created table identifiers. Requires the Iceberg runtime
    (see :func:`iceberg_available`)."""
    spark = index.spark
    _require_iceberg(spark)
    created = []
    frames: dict[str, DataFrame] = {
        "analyzed": index._committed("analyzed"),
        "segments": index.segments,
        "term_dict": index.term_dict,
        "blocks": index.blocks,
    }
    for stage, parts in STAGE_PARTITIONING.items():
        df = frames[stage]
        ident = f"{catalog}.{namespace}.{stage}"
        writer = df.writeTo(ident).using("iceberg")
        for p in parts:
            writer = writer.partitionedBy(df[p])
        writer.createOrReplace()
        created.append(ident)
    return created


def read_stage(spark: SparkSession, catalog: str, namespace: str,
               stage: str) -> DataFrame:
    """Read one published stage back from the catalog (engine-side
    substitute for the parquet directory read)."""
    _require_iceberg(spark)
    return spark.read.table(f"{catalog}.{namespace}.{stage}")
