"""PySpark-native analytics/indexing engine with the capabilities of
vforteli/AzureDataLakeIndexer (reference at /root/reference, C#/.NET 8).

The reference is an incremental file-indexing ETL pipeline that keeps a
search "data index" in sync with JSON documents in a data lake, via a helper
"path index" of (path, mtime) rows (reference README.md:3-35).  This package
re-expresses every operator of that pipeline as idiomatic PySpark DataFrame /
SQL / Structured Streaming programs — declarative plans optimized by Catalyst,
not a translation of the reference's async-channel execution engine — plus the
query side the reference delegates to Azure AI Search (scan-time search models
and persisted text / multi-field profile indexes that serve them) and the
corpus-curation operators (dedup, text analysis, sampling, multimodal columns)
that a training-data pipeline over the same lake needs.

Layout
------
- ``schemas``      StructTypes for path_index / blob_event / document models (SURVEY §1)
- ``functions``    scalar column functions F1-F13 (keys, urls, json, text hashes)
- ``sources``      lake listing / JSON document / fixture-table adapters (S1-S5, S8), the
                   persisted text and profile indexes, their segment engine and the
                   staged-commit journal every index write goes through
- ``operators``    paths query, mapper, upsert/merge sink, scan-time search models, dedup, text (S2, S6, P*, J*, A*, O*)
- ``plans``        end-to-end indexer pipeline composition (§3.1)
- ``streaming``    event-driven incremental indexing (T1-T5)
"""

__version__ = "0.1.0"
