"""Schemas for the engine's logical tables (SURVEY §1).

Reference shapes:
- ``PathIndexModel``  -> reference AzureSearchIndexer/IndexDefinitions/PathIndexModel.cs:9-26
- ``TestIndexModel`` / ``SomeOtherIndexModel`` -> reference IndexModels/TextIndexModel.cs:5-34
- blob event types   -> reference DatalakePathIndexerFunc/BlobEventModel.cs:5-102

Field capabilities (key/searchable/filterable/sortable/facetable/analyzer) are
carried as ``StructField.metadata`` — in Spark they are planning hints, not
physical properties: "searchable with keyword_v2+lowercase analyzer" becomes a
normalized ``lower(col)`` comparison (SURVEY §2.8 F6/F7), everything
filterable/sortable is natively so in a DataFrame.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- path index (the catalog of lake files) --------------------------------
# reference PathIndexModel.cs:9-26; `key` is computed - see functions.keys.path_key
PATH_INDEX_SCHEMA = StructType(
    [
        StructField("key", StringType(), False, {"key": True, "filterable": True, "sortable": True}),
        StructField(
            "pathUrlEncoded",
            StringType(),
            False,
            {"searchable": True, "filterable": True, "analyzer": "keyword_v2+lowercase"},
        ),
        StructField("filesystem", StringType(), False, {"filterable": True}),
        StructField("fileLastModified", TimestampType(), True, {"filterable": True, "sortable": True}),
        # row write time — the incremental watermark column (PathIndexModel.cs:24-25)
        StructField("lastModified", TimestampType(), True, {"filterable": True, "sortable": True}),
    ]
)

# --- source document shape on disk (TestIndexModel, TextIndexModel.cs:11-21)
TEST_INDEX_SCHEMA = StructType(
    [
        StructField("stringvalue", StringType(), True, {"searchable": True}),
        StructField("numbervalue", IntegerType(), True, {"facetable": True, "filterable": True}),
        StructField("booleanvalue", BooleanType(), True, {"facetable": True, "filterable": True}),
    ]
)

# --- target data-index shape (SomeOtherIndexModel, TextIndexModel.cs:24-34)
DATA_INDEX_SCHEMA = StructType(
    [
        StructField("pathbase64", StringType(), False, {"key": True}),
        StructField("stringvalue", StringType(), True),
        StructField("numbervalue", IntegerType(), True),
        StructField("booleanvalue", BooleanType(), True),
        StructField("eTag", StringType(), True),
        StructField("pathUrlEncoded", StringType(), True),
        StructField("lastModified", TimestampType(), True, {"filterable": True, "sortable": True}),
    ]
)

# --- blob event types (Event Grid message; BlobEventModel.cs:5-102) ------
# the drain reads flat (event_id, eventType, eventTime, url) rows (streaming/events.py)
EVENT_TYPE_BLOB_CREATED = "Microsoft.Storage.BlobCreated"
EVENT_TYPE_BLOB_DELETED = "Microsoft.Storage.BlobDeleted"
