"""Lake sources: recursive listing (S1), the read of the listed files (S3)
and their JSON parse (S4).

The reference hand-rolls a parallel BFS over directories with a bounded
work-queue (≤256 concurrent listing calls, reference
DataLakePathClientExtension.cs:24-81) and a per-file download loop (≤128
readers, DataLakeIndexer.cs:66-87).  Spark's file sources already do both at
cluster scale: ``InMemoryFileIndex`` lists directories in parallel across the
driver thread pool / a distributed job
(``spark.sql.sources.parallelPartitionDiscovery.parallelism``), and the
``binaryFile`` / ``json`` readers schedule per-file tasks across executors —
so both operators are declarative reads here, not custom code.

The indexer never scans the lake: it hands :func:`read_json_documents` the
files the path index listed (``files=``), which become one brace glob under
the root, so the parse costs O(delta) however large the lake is (the
reference downloads exactly the listed paths, DataLakeIndexer.cs:55-130).
``root`` is a literal directory: it is qualified once through Hadoop (so
``/x/lake``, ``file:///x/lake`` and ``abfss://…`` all take the form the
reader reports file paths in), glob-escaped for the reader and stripped
from each file's path as a plain string, so a root holding regex or glob
characters (``+``, ``(``, ``[``, ``$``) still yields ``path`` relative to
it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from azuredatalakeindexer_spark.functions.keys import url_encode_path
from azuredatalakeindexer_spark.sources.staging import _hadoop_fs

#: Hadoop glob metacharacters (``GlobPattern``), escaped with a backslash
_GLOB_META = frozenset("\\{}[]*?,")


def _qualified(spark: SparkSession, root: str) -> str:
    """``root`` as Hadoop qualifies it (``file:/x/lake`` for ``/x/lake``
    and ``file:///x/lake``) — the prefix of every file path Spark reports."""
    fs, path = _hadoop_fs(spark, root)
    return fs.makeQualified(path).toString()


def _relative(path: Column, root: str) -> Column:
    """``path`` after the first ``root/`` in it, matched as a literal string
    (``path`` unchanged when ``root/`` does not occur)."""
    prefix = root.rstrip("/") + "/"
    at = F.locate(prefix, path)
    return F.when(at > 0, path.substr(at + len(prefix), F.lit(1 << 30))).otherwise(path)


def _glob_escape(s: str, depth: int = 1) -> str:
    return "".join("\\" * depth + ch if ch in _GLOB_META else ch for ch in s)


def _files_glob(root: str, files: list[str]) -> str:
    """One glob naming exactly ``files`` (relative to ``root``).

    Hadoop expands a ``{...}`` group that holds a ``/`` into one pattern
    per member before globbing each (``GlobExpander``), and that expansion
    consumes one level of backslash escapes.  Every member starts with
    ``/`` so the group always expands, and members carry three
    backslashes per metacharacter so one escape survives.  A member that
    matches no file is skipped; only a glob that matches nothing raises.
    """
    members = ",".join("/" + _glob_escape(f, depth=3) for f in files)
    return _glob_escape(root.rstrip("/")) + "{" + members + "}"


def list_lake_paths(spark: SparkSession, root: str, glob: str | None = None) -> DataFrame:
    """S1: recursive lake listing → catalog DataFrame.

    Returns ``(path, pathUrlEncoded, isDirectory, fileLastModified, length)``
    for every file under ``root`` (directories are implicit in Spark's file
    index — the reference's ``IsDirectory`` filter P5/DataLakePathClientExtension.cs:51
    is already applied by the source, so ``isDirectory`` is always false
    here; :func:`azuredatalakeindexer_spark.sources.fixtures.build_listing`
    covers the explicit-directory variant).

    Column pruning matters: selecting only metadata columns from the
    ``binaryFile`` source never reads file bodies.
    """
    root = _qualified(spark, root)
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(_glob_escape(root))
    rel = _relative(F.col("path"), root)
    return df.select(
        rel.alias("path"),
        url_encode_path(rel).alias("pathUrlEncoded"),
        F.lit(False).alias("isDirectory"),
        F.col("modificationTime").alias("fileLastModified"),
        F.col("length"),
    )


def read_json_documents(
    spark: SparkSession,
    root: str,
    schema: StructType,
    glob: str | None = None,
    files: list[str] | None = None,
) -> DataFrame:
    """S4: schema-on-read JSON parse with per-row fault isolation.

    The reference deserializes each file against a declared record and maps a
    parse miss to ``null`` → dropped row (IndexMapper.cs:15-28,
    DataLakeIndexer.cs:90-96).  ``PERMISSIVE`` mode + a corrupt-record column
    reproduces that per-row isolation: malformed documents surface as rows
    whose data fields are null and ``_corrupt_record`` is set, which the
    mapper's null-drop (P2) removes while the metrics layer counts them (A2).

    Without ``files`` every file under ``root`` is parsed.  With ``files``
    (paths relative to ``root``) only those are; a listed file that does not
    exist is skipped, so ``len(files) - len(df.inputFiles())`` counts the
    missing ones — when none exists the result is empty.
    """
    root = _qualified(spark, root)
    # build a fresh StructType — StructType.add mutates the receiver
    full = StructType(list(schema.fields) + [StructField("_corrupt_record", StringType(), True)])
    reader = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("recursiveFileLookup", "true")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)

    def none_found() -> DataFrame:
        return spark.createDataFrame([], StructType([StructField("path", StringType()), *full.fields]))

    if files is not None and not files:
        return none_found()
    try:
        df = reader.json(_files_glob(root, files) if files is not None else _glob_escape(root))
    except AnalysisException as e:
        if files is None or e.getCondition() != "PATH_NOT_FOUND":
            raise
        return none_found()
    # _metadata.file_path is a URI (``%20`` for a space, ``%5B`` for ``[``);
    # decode it before stripping the root ('+' is literal in a URI path)
    uri = F.col("_metadata.file_path")
    rel = _relative(F.url_decode(F.replace(uri, F.lit("+"), F.lit("%2B"))), root)
    return df.select(rel.alias("path"), "*").drop("_metadata")
