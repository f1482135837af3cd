package graft

/** Typed exception hierarchy (reference:
  * src/langchain_memvid/exceptions.py — MemVidError and its five
  * subclasses). The Spark-native mapping collapses the two video-codec
  * error types (VideoProcessingError, QRCodeError) into
  * [[StorageException]], because the storage layer here is parquet, and
  * renames by operation family:
  *
  *  - EncodingError   → [[IngestException]]  (embed/dedup/append path)
  *  - RetrievalError  → [[SearchException]]  (query path)
  *  - MemVidIndexError→ [[IndexException]]   (ids, dims, IVF/PQ state)
  *  - VideoProcessingError / QRCodeError → [[StorageException]]
  *    (manifest, snapshot files, payload store)
  *
  * All extend IllegalArgumentException: the library validated with
  * `require`/IAE through round 3, so existing callers (and specs)
  * catching IllegalArgumentException keep working — the hierarchy adds
  * discrimination without breaking the old contract.
  */
class GraftException(message: String, cause: Throwable = null)
    extends IllegalArgumentException(message, cause)

/** Ingest-path failure: bad batch shape, embed errors. */
final class IngestException(message: String) extends GraftException(message)

/** Query-path failure: searching an empty/absent store, bad k. */
final class SearchException(message: String) extends GraftException(message)

/** Index-state failure: invalid ids, dimension mismatches. */
final class IndexException(message: String) extends GraftException(message)

/** Storage-layer failure: missing/corrupt manifest or snapshot. */
final class StorageException(message: String) extends GraftException(message)

/** A mutation through a store instance that another writer has
  * published past: raised before anything is written. */
final class ConcurrentWriteException(message: String) extends GraftException(message)
