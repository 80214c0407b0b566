package graft.lake

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Manifest-per-version metadata for the versioned dataset layer — the
  * Spark-native re-expression of the reference's Lance-aligned storage2
  * engine (manifest model: /root/reference/pkg/storage2/manifest.go,
  * table_format.go; SDK surface: sdk/dataset.go:223-330).
  *
  * Layout on storage:
  * {{{
  *   <root>/_manifests/v<20-digit>.json   one immutable manifest per version
  *   <root>/_refs/tags/<name>.json        tag → version (refs.go:386-432)
  *   <root>/data/frag-*.parquet           immutable fragment data files
  * }}}
  *
  * Columns are stored physically as `f<fieldId>` (Iceberg/Lance-style field
  * ids), so rename/drop/add of columns are metadata-only commits; the
  * logical name ↔ field id mapping lives in [[FieldDef]].
  */
final case class ColumnStats(min: Option[String], max: Option[String],
    nullCount: Long)

/** One immutable data fragment (single parquet file) + its zonemap stats
  * (fragment min/max pruning ≈ storage2 zonemap_index.go:18-210). Stats are
  * keyed by field id. `blooms` maps field id → sidecar bloom-filter file
  * (relative path) for fields with a bloom index (bloomfilter_index.go). */
final case class Fragment(id: Long, file: String, rowCount: Long,
    stats: Map[String, ColumnStats],
    blooms: Map[String, String] = Map.empty,
    /** Field id → the fragment's complete distinct-value set (as strings),
      * present only when it fit under the manifest's valueSetMaxDistinct —
      * the fragment-granularity analogue of the reference's bitmap index
      * for low-cardinality columns (bitmap_index.go). Absent = unknown →
      * never pruned on. */
    valueSets: Map[String, Seq[String]] = Map.empty)

/** Logical field: stable id, current name, Catalyst DataType JSON. */
final case class FieldDef(id: Int, name: String, dataType: String,
    nullable: Boolean)

/** One immutable fragment-list chunk (the manifest-list split, SCALE.md):
  * `file` under `_manifests/chunks/`, holding `count` fragments as JSON
  * lines. Content-addressed (name = hash of content), so an unchanged
  * chunk is re-listed by later versions at zero IO — commit cost is
  * O(delta), not O(table). `stats` aggregates the chunk's fragments'
  * zonemap stats (min of mins / max of maxes / summed null counts, keyed
  * by field id) so a pruned open can skip a whole chunk — never reading
  * or parsing it — when a predicate excludes its aggregate range (the
  * Iceberg manifest-list partition-summary move). Empty map = unknown
  * (legacy chunk refs): never skipped. */
final case class ChunkRef(file: String, count: Long,
    stats: Map[String, ColumnStats] = Map.empty,
    /** Total ROWS across the chunk's fragments (`count` is the FRAGMENT
      * count). Needed by the IS NOT NULL chunk probe, which compares the
      * aggregate null count against rows — comparing against the fragment
      * count wrongly skipped chunks once nulls ≥ fragments. 0 = unknown
      * (legacy ref): the probe keeps the chunk. */
    rows: Long = 0L)

final case class Manifest(
    version: Long,
    fields: Seq[FieldDef],
    maxFieldId: Int,
    fragments: Seq[Fragment],
    maxFragmentId: Long,
    /** Next stable row-id to hand out (rowids.go model: rowids survive
      * rewrites; new appends claim fresh ranges). */
    nextRowId: Long,
    parentVersion: Option[Long],
    createdMs: Long,
    operation: String,
    /** Field ids with a bloom index; new fragments get blooms built at
      * stage time (index_selector.go: equality predicates consult blooms,
      * ranges stay on zonemaps). */
    bloomFields: Seq[Int] = Nil,
    bloomNumBits: Long = 0L,
    bloomNumHashes: Int = 5,
    /** Field ids with a value-set (bitmap-style) index for low-cardinality
      * equality/IN pruning; sets bigger than valueSetMaxDistinct are not
      * stored (the column isn't low-cardinality in that fragment). */
    valueSetFields: Seq[Int] = Nil,
    valueSetMaxDistinct: Int = 64,
    /** Free-form commit-carried properties (e.g. the streaming sink's
      * last-committed batch id per query — the atomic manifest swap makes
      * data + marker exactly-once together). */
    properties: Map[String, String] = Map.empty,
    /** Merge-on-read deletion vectors (reference deletion_bitmap.go):
      * parquet files of deleted `_rowid`s, anti-joined at read time.
      * Stable rowids make them exact across later rewrites (compaction
      * preserves rowids); a purge rewrite clears them. */
    deletionFiles: Seq[String] = Nil,
    deletedRowCount: Long = 0L,
    /** Fragment ids this commit removed/rewrote relative to its parent —
      * the conflict matrix's fragment-overlap refinement (conflict.go:
      * deleteDeleteConflict/deleteRewriteConflict/rewriteRewriteConflict
      * conflict only when touching the same fragments). */
    touchedFragmentIds: Seq[Long] = Nil,
    /** When non-empty, `fragments` was spilled to these chunk files on
      * storage (the version JSON then serializes with `fragments = Nil`);
      * [[VersionLog.manifest]] re-materializes them in chunk order, so
      * in-memory manifests ALWAYS carry the full fragment list and
      * `fragments` iterates as chunk-order concatenation. */
    chunkFiles: Seq[ChunkRef] = Nil)

object Manifest {
  implicit val formats: Formats = DefaultFormats

  def toJson(m: Manifest): String = Serialization.writePretty(m)
  def fromJson(s: String): Manifest = Serialization.read[Manifest](s)

  def versionFileName(v: Long): String = f"v$v%020d.json"

  /** Inverse of [[versionFileName]]. */
  def versionOfFileName(name: String): Long =
    name.stripPrefix("v").stripSuffix(".json").toLong
}
