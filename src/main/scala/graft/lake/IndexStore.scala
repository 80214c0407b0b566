package graft.lake

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The one store behind the lake's persisted secondary indexes
  * ([[FtsIndex]], [[VectorIndex]], [[HnswIndex]]) — the counterpart of the
  * reference's KNNIndexManager Save/Load (pkg/storage2/knn.go:14-450) and
  * fts_persistence.go. It alone decides:
  *
  *  - Layout: `<namespace>/_indexes/<name>/v<20-digit version>/`, where the
  *    namespace is the dataset root for main and `_refs/branches/<b>/` for
  *    branch `b`. Index versions are per namespace: a branch continues its
  *    fork's version numbers and reuses main's next rowid range, so an
  *    index built on one namespace must never be found by another, and
  *    [[LakeDataset.deleteBranch]] removes the branch's indexes with it.
  *  - Commit point: a segment exists once its `meta.json` is written, and
  *    that file is written last, so a build that dies mid-write leaves a
  *    dir every reader ignores.
  *  - Meta codec: string-valued JSON (`"max_rowid": "99"`,
  *    `"parent": "v3"`), read and written with json4s like [[Manifest]].
  *  - Discovery: [[built]] is the newest committed version ≤ the handle's
  *    version; [[chain]] walks `parent` pointers newest to oldest. Each
  *    refresh adds a DELTA segment instead of rewriting the index — the LSM
  *    shape: extending a 100 TB index costs the appended rows, not the
  *    corpus.
  *  - Refresh cursor: [[pending]] returns the rows appended since the built
  *    segment, from its `max_rowid`/`max_fragment_id` high-water marks.
  *    The marks make refresh independent of dataset manifests, which vacuum
  *    may delete; a segment without them falls back to its version's
  *    manifest.
  *  - Live join: [[IndexStore.joinLive]] joins index hits back to live rows
  *    by the stable `_rowid`, so rows deleted since a build drop out.
  *
  * Index names follow the branch-name rule and may not be `bloom`, the
  * manifest-managed bloom-sidecar dir. */
private[lake] final class IndexStore(ds: LakeDataset, name: String) {
  import IndexStore._

  require(name.matches(NameRule) && name != BloomDir,
    s"invalid index name '$name': want $NameRule, and '$BloomDir' is " +
      "reserved for bloom sidecars")

  private val base = rootOf(ds).resolve(name)

  private def dir(v: Long): Path = base.resolve(f"v$v%020d")

  /** The meta of version `v`, None while `v` is uncommitted. */
  def metaAt(v: Long): Option[Meta] = {
    val p = dir(v).resolve(MetaFile)
    if (ds.io.exists(p)) Some(Meta.parse(ds.io.readString(p))) else None
  }

  /** Newest committed version ≤ the dataset's version. */
  def built: Option[Long] =
    if (!ds.io.exists(base)) None
    else ds.io.listNames(base).filter(_.matches("v\\d{20}"))
      .map(_.drop(1).toLong).filter(_ <= ds.version)
      .filter(v => ds.io.exists(dir(v).resolve(MetaFile))).maxOption

  /** Segment dirs of the chain ending at `v`, newest to oldest. */
  def chain(v: Long): Seq[Path] =
    dir(v) +: metaAt(v).flatMap(_.parent).fold(Seq.empty[Path])(chain)

  /** Write a segment at the dataset's version: `write` fills its dir, then
    * the meta (`fields`, the parent pointer and the high-water marks) is
    * written last — the commit point. */
  def commit(parent: Option[Long], fields: (String, String)*)(
      write: Path => Unit): Unit = {
    val d = dir(ds.version)
    ds.io.mkdirs(d)
    write(d)
    val meta = ListMap(fields: _*) ++ parent.map(p => "parent" -> s"v$p") ++
      Seq("max_rowid" -> (ds.manifest.nextRowId - 1).toString,
        "max_fragment_id" -> ds.manifest.maxFragmentId.toString)
    ds.io.writeString(d.resolve(MetaFile), Meta(meta).json)
  }

  /** The refresh cursor. Runs `build` when nothing is built and returns
    * None; returns None too when the built segment already covers every
    * live row (same version, pure deletes or schema ops, compaction
    * outputs that carry only indexed rowids). Otherwise returns the built
    * version, its meta, and the appended rows as (`_rowid`, `column`) with
    * `column` non-null. */
  def pending(column: String)(build: => Unit): Option[Pending] = built match {
    case None => build; None
    case Some(v0) if v0 == ds.version => None
    case Some(v0) =>
      val meta = metaAt(v0).get
      def manifest = ds.log.manifest(v0)
      val maxIndexed = meta.long("max_rowid")
        .getOrElse(manifest.nextRowId - 1)
      // fragments beyond the built mark: appended data, plus compaction
      // outputs (whose OLD rows the rowid filter screens out)
      val newFrags = meta.long("max_fragment_id") match {
        case Some(mf) => ds.manifest.fragments.filter(_.id > mf)
        case None =>
          val oldIds = manifest.fragments.map(_.id).toSet
          ds.manifest.fragments.filterNot(f => oldIds(f.id))
      }
      if (newFrags.isEmpty) None
      else {
        val rows = ds.readFragments(ds.manifest, newFrags, withRowId = true)
          .select(col(LakeDataset.RowIdCol), col(column))
          .filter(col(column).isNotNull &&
            col(LakeDataset.RowIdCol) > maxIndexed)
        if (rows.isEmpty) None else Some(Pending(v0, meta, rows))
      }
  }

  def drop(): Boolean = ds.io.deleteRecursive(base)
}

private[lake] object IndexStore {
  val MetaFile = "meta.json"
  private val NameRule = "[A-Za-z0-9][A-Za-z0-9._-]*"
  /** Reserved: bloom sidecars live in main's `_indexes/bloom/`. */
  private val BloomDir = "bloom"

  /** A built version, its meta, and the rows appended since. */
  final case class Pending(base: Long, meta: Meta, rows: DataFrame)

  /** A segment's `meta.json`: string keys to string values. */
  final case class Meta(fields: Map[String, String]) {
    def apply(key: String): String = fields.getOrElse(key,
      throw new IllegalStateException(s"index meta has no '$key'"))
    def get(key: String): Option[String] = fields.get(key)
    def long(key: String): Option[Long] = get(key).map(_.toLong)
    def parent: Option[Long] = get("parent").map(_.drop(1).toLong)
    def json: String = Serialization.write(fields)
  }

  object Meta {
    def parse(json: String): Meta =
      Meta(Serialization.read[Map[String, String]](json))
  }

  private implicit val formats: Formats = DefaultFormats

  /** `_indexes/` of the handle's namespace. */
  def rootOf(ds: LakeDataset): Path =
    ds.branchName.fold(new Path(ds.root))(_ => ds.log.dir).resolve("_indexes")

  /** Index names in the handle's namespace. */
  def list(ds: LakeDataset): Seq[String] = {
    val dir = rootOf(ds)
    if (!ds.io.exists(dir)) Nil
    else ds.io.listNames(dir)
      .filter(n => n != BloomDir && ds.io.isDirectory(dir.resolve(n)))
      .sorted
  }

  /** `live` rows whose `_rowid` is among `hits`' `_rowid`s, with the other
    * columns of `hits` beside them. */
  def joinLive(live: DataFrame, hits: DataFrame): DataFrame =
    live.join(hits.withColumnRenamed(LakeDataset.RowIdCol, "_idx_rowid"),
      col(LakeDataset.RowIdCol) === col("_idx_rowid"))
      .drop("_idx_rowid")
}
